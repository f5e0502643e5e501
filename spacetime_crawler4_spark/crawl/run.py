"""CLI: run a crawl end-to-end over a pages/robots/seeds parquet corpus.

    python -m spacetime_crawler4_spark.crawl.run \
        --pages .fixtures/pages.parquet --robots .fixtures/robots.parquet \
        --seeds .fixtures/seeds.parquet --state /tmp/crawlstate \
        --master 'local[8]' [--resume] [--wave-seconds 4.0] [--report]

Submission shape on a real cluster: spark-submit --py-files of this package
with --master yarn/k8s; the engine itself is master-agnostic.
"""

from __future__ import annotations

import argparse
import json
import time

import pyarrow.parquet as pq

from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import CrawlConfig
from spacetime_crawler4_spark.session import get_spark


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--robots", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--state", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--wave-seconds", type=float, default=None)
    ap.add_argument("--global-budget", type=int, default=None)
    ap.add_argument("--max-waves", type=int, default=64)
    ap.add_argument("--whitelist", default=".example-a.test,.example-b.test")
    ap.add_argument("--report", action="store_true")
    ap.add_argument(
        "--dump",
        default=None,
        metavar="N",
        type=int,
        help="print the first N frontier rows (reference print_nap.py analogue)",
    )
    ap.add_argument(
        "--at-wave",
        default=None,
        metavar="W",
        type=int,
        help="time-travel: report/dump the state as of snapshot wave W "
        "(Iceberg VERSION AS OF) instead of crawling — requires --state; "
        "only waves still in the retained base+delta chain are readable",
    )
    ap.add_argument(
        "--links-out",
        dest="links_dir",
        default=None,
        metavar="DIR",
        help="after the crawl, write the admitted pages' anchor-text edges "
        "(operators/linkgraph.anchor_edges: src_url, src_domain, pos, "
        "dst_url, dst_domain, anchor_text) as parquet to DIR, replacing "
        "what is there",
    )
    ap.add_argument(
        "--wet-out",
        default=None,
        metavar="DIR",
        help="after the crawl, export the admitted pages' extracted text "
        "as a deterministic WET archive under DIR (sources/warc."
        "write_wet_archive) plus its CDX manifest at DIR/cdx.parquet — "
        "the Common-Crawl-shaped hand-off to a training pipeline",
    )
    ap.add_argument(
        "--wet-files",
        type=int,
        default=16,
        metavar="N",
        help="WET bucket count for --wet-out (one archive file per bucket)",
    )
    ap.add_argument(
        "--wet-gzip",
        action="store_true",
        help="gzip each WET record as its own member (ranged-GET layout)",
    )
    ap.add_argument(
        "--policy",
        default="fifo",
        choices=["fifo", "shallow", "deep", "domain_rank"],
        help="frontier priority-queue policy under politeness budgets "
        "(CrawlConfig.frontier_policy): fifo = reference discovery order; "
        "shallow/deep = depth best-first; domain_rank = host-authority-"
        "first (needs --priority-table)",
    )
    ap.add_argument(
        "--priority-table",
        default=None,
        metavar="PARQUET",
        help="(domain, rank) parquet for --policy domain_rank — the "
        "crawl_state_host_rank / linkgraph host-PageRank output shape",
    )
    ap.add_argument(
        "--step",
        action="store_true",
        help="manual step mode (reference launchman.py / crawlerman): run "
        "exactly ONE wave against the snapshot store, print every row the "
        "wave touched, and exit — re-invoke with --step --resume to "
        "advance wave by wave",
    )
    args = ap.parse_args(argv)
    if args.step and not args.state:
        ap.error("--step requires --state (waves advance through the store)")

    seeds_tbl = pq.read_table(args.seeds).to_pylist()
    seeds = [r["url"] for r in sorted(seeds_tbl, key=lambda r: r["seq"])]
    whitelist = tuple(s for s in args.whitelist.split(",") if s) or None

    spark = get_spark("crawl", master=args.master)

    if args.at_wave is not None:
        if not args.state:
            ap.error("--at-wave requires --state")
        from spacetime_crawler4_spark.crawl.store import SnapshotStore

        store = SnapshotStore(args.state)
        try:
            wave, tables, metrics = store.load_at(spark, args.at_wave)
        except KeyError as e:
            retained = [(s["wave"], s["kind"]) for s in store.snapshots()]
            print(json.dumps({"error": str(e), "retained": retained}))
            return {"error": str(e)}
        frontier = tables["frontier"]
        out = {"wave": wave, "frontier_urls": frontier.count()}
        _report(args, frontier, out)
        print(json.dumps(out))
        return out

    cfg = CrawlConfig(
        whitelist=whitelist,
        wave_seconds=args.wave_seconds,
        global_budget=args.global_budget,
        max_waves=1 if args.step else args.max_waves,
        frontier_policy=args.policy,
        priority_table=args.priority_table,
    )
    eng = CrawlEngine(spark, args.pages, args.robots, seeds, cfg, state_dir=args.state)
    t0 = time.time()
    frontier = eng.run(resume=args.resume)
    if args.step and eng.last_wave is not None:
        # step-mode debugging dump (launchman.py semantics: one manual
        # step, inspect, repeat): the processed wave's rows with their NEW
        # state, in FIFO order, plus the wave counters
        touched = frontier.join(
            eng.last_wave.select("urlhash"), "urlhash", "left_semi"
        )
        touched.orderBy("gen", "seq").drop("words", "links").show(
            1000, truncate=50
        )
        print("wave counters:", json.dumps(eng.metrics[-1] if eng.metrics else {}))
    n = frontier.count()
    wall = time.time() - t0
    out = {
        "frontier_urls": n,
        "waves": eng.wave_no,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(n / wall, 2) if wall > 0 else None,
    }
    _report(args, frontier, out)
    if args.links_dir:
        out["links"] = export_links(spark, frontier, args.pages, args.links_dir)
    if args.wet_out:
        out["wet"] = export_wet(
            spark,
            frontier,
            args.pages,
            args.wet_out,
            n_files=args.wet_files,
            compress=args.wet_gzip,
        )
    print(json.dumps(out))
    return out


def _report(args, frontier, out: dict) -> None:
    """``--report``: the frontier's totals and top 10 words into ``out``;
    ``--dump N``: show its first N rows in (gen, seq) order."""
    if args.report:
        from spacetime_crawler4_spark.crawl import report as R

        out["totals"] = R.totals(frontier).collect()[0].asDict()
        out["top_words"] = [
            (r["word"], r["total"]) for r in R.top_words(frontier, 10).collect()
        ]
    if args.dump:
        frontier.orderBy("gen", "seq").drop("words").show(args.dump, truncate=60)


def admitted_pages(spark, frontier, pages_path: str):
    """The corpus rows of the crawl's admitted pages (status=DOWNLOADED,
    finish=OK): a semi join of the pages table against the frontier."""
    from pyspark.sql import functions as F

    from spacetime_crawler4_spark.crawl.schema import FINISH, STATUS

    admitted = frontier.filter(
        (F.col("status") == STATUS.IS_DOWN) & (F.col("finish") == FINISH.OK)
    ).select("url")
    return spark.read.parquet(pages_path).join(admitted, "url", "left_semi")


def admitted_text(spark, frontier, pages_path: str):
    """``(url, text)`` of the crawl's admitted pages: the PRODUCTION parse
    UDF over the corpus html, its canonical newline-joined fragment
    serialization. Every page is parsed as ``text/html``, so an admitted
    sitemap page gets its ``<loc>`` lines as text here, where the crawl,
    which passes the page's ``content_type``, tokenizes none."""
    from pyspark.sql import functions as F

    from spacetime_crawler4_spark.operators.textplane import parse_page_udf

    return (
        admitted_pages(spark, frontier, pages_path)
        .select(
            "url",
            parse_page_udf(
                F.col("url"), F.col("html"), F.lit("text/html")
            ).alias("p"),
        )
        .select("url", F.col("p.text").alias("text"))
    )


def export_links(spark, frontier, pages_path: str, out_dir: str) -> dict:
    """Export the anchor-text edges of the crawl's admitted pages
    (operators/linkgraph.anchor_edges, EDGE_SCHEMA: one row per <a href>)
    as parquet to ``out_dir``, overwriting it, so a re-run over the same
    frontier leaves the same rows. The edge count rides the write job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from spacetime_crawler4_spark.operators.linkgraph import anchor_edges

    obs = Observation("links")
    anchor_edges(admitted_pages(spark, frontier, pages_path)).observe(
        obs, F.count(F.lit(1)).alias("edges")
    ).write.mode("overwrite").parquet(out_dir)
    return {"edges": obs.get["edges"]}


def export_wet(
    spark,
    frontier,
    pages_path: str,
    out_dir: str,
    n_files: int = 16,
    compress: bool = False,
) -> dict:
    """Export the crawl's admitted pages (status=DOWNLOADED, finish=OK)
    as a deterministic WET archive + CDX manifest parquet.

    Text is ``admitted_text``: the PRODUCTION parse UDF over the corpus
    html, the canonical newline-joined serialization the crawl tokenizes
    for every html page, so the archive is the crawl's text plane made
    portable.
    One semi join against the corpus + the writer's own file_id shuffle;
    the manifest lands at ``out_dir/cdx.parquet``."""
    import os

    from spacetime_crawler4_spark.sources.warc import write_wet_archive

    pages = admitted_text(spark, frontier, pages_path)
    manifest = write_wet_archive(pages, out_dir, n_files, compress=compress)
    manifest_path = os.path.join(out_dir, "cdx.parquet")
    # the measured manifest is the write's return frame — persist it once
    pdf = manifest.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq_

    pq_.write_table(pa.Table.from_pandas(pdf, preserve_index=False), manifest_path)
    return {
        "records": int(len(pdf)),
        "files": int(pdf["filename"].nunique()),
        "bytes": int((pdf["rec_len"]).sum()),
        "manifest": manifest_path,
    }


if __name__ == "__main__":
    main()
