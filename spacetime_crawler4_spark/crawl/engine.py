"""The wave-loop crawl engine: reference pipeline as declarative dataflow.

Each wave is ONE classification pipeline over the selected rows
(reference pipe order, crawler2/worker.py:27-121):

    sift(F7) → domain init(S3/S4) → robots gate(F8) → fetch join(J2/S2)
    → status/redirect/length filters(F9/F10/F11) → exact dedup(J4/W2)
    → fused parse/tokenize/low-info/simhash UDF(T1-T5/F12/C4)
    → near-dup(J5) → link expansion(W3/C9/C10/F4-F6)
    → seen-set anti-join(J1) → snapshot commit(S5)

One class column is carried from sift to the features UDF and each row's
new frontier columns are projected once (run_wave); the classified rows
land in one eager checkpoint without html. Near-dup, link expansion and
the wave delta (new row states + inserts, a second eager checkpoint) read
it; the frontier swap and the store commit read the delta. Every Spark job
of wave n is tagged ``crawl-wave-<n>`` and described ``wave <n>: <phase>``
(select, domains, classify, neardup, materialize, commit).

Engine state is two tables, both eager checkpoints and both committed:
- ``frontier`` — one row per urlhash ever discovered; every row carries
  its ``finish``, ``exhash`` and ``smhash``;
- ``domains`` — robots rules per first-seen host, one row per host.
The dedup master indexes are read-only views over the frontier, never
stored: ``exact_buckets`` (J4: the rows with an exhash that are not exact
copies) and ``sim_index`` (J5: the rows with a simhash that are not near
copies).

Scale design decisions (SURVEY.md §4):
- fetch is an equi-join of the wave against the pages table (the corpus IS
  the web in this graft); Catalyst/AQE pick the join strategy, skew-join
  splitting enabled for mega-host waves
- the URL-seen probe is a left_anti join on urlhash behind ONE prefilter:
  an incrementally maintained broadcast bloom over xxhash64(urlhash)
  (functions/bloom.py), the north rule's broadcast-bloom seen set
- politeness is a *scheduling constraint, not a sleep*: per-wave per-domain
  budget = wave_seconds / crawl_delay enforced with a rank window
  partitioned by domain (reference's global+domain polite mutexes,
  polmut.py:19-33, reproduced as budget counting — SURVEY.md §2.9)
- ordering is data, not time: (gen, seq) keys make crawl order equal to the
  reference's single-threaded FIFO (schema.py docstring)
- per-wave driver state is O(bounded): the near-dup pass runs the
  vectorized FIFO popcount scan over the wave's HASHES when wave and
  master index fit under SIMHASH_NUMPY_CAP (the 32-bit parity fingerprint
  saturates banded LSH buckets — _simhash_stage_vectorized), else the
  banded join with the distributed election (distributed_election);
  everything else stays distributed
- every frontier swap goes through ONE point (_set_frontier), whose
  checkpoint job observes the row count and the ``sim_index`` size; the
  driver mirrors (seen bloom, near-dup master hashes) are valid while
  they hold exactly that many keys, and are rebuilt once when stale
- frontier and domains updates are copy-on-write unions per wave with
  eager localCheckpoint lineage truncation; every wave frame and every
  superseded checkpoint is released at one point, the end of the wave
  (_hold / _release_frames), or by close(); store commits are
  O(touched-rows) DELTAS, one per wave, with periodic compaction and
  merge-on-read load (Iceberg MOR, store.py)
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from functools import cached_property, reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from spacetime_crawler4_spark.crawl import schema as S
from spacetime_crawler4_spark.crawl.schema import (
    DOMAINS_SCHEMA,
    FINISH,
    FRONTIER_SCHEMA,
    STATUS,
    CrawlConfig,
)
from spacetime_crawler4_spark.crawl.store import COMPACT_EVERY, TABLES, SnapshotStore
from spacetime_crawler4_spark.crawl.udfs import (
    make_can_fetch_udf,
    make_links_meta_udf,
    make_robots_parse_udf,
)
from spacetime_crawler4_spark.functions.exhash import exhash_col
from spacetime_crawler4_spark.functions.simhash import (
    POPCOUNT16,
    SIMHASH_BITS,
    SIMHASH_THRESHOLD,
)
from spacetime_crawler4_spark.operators.textplane import (
    crawl_words_col,
    make_crawl_features_udf,
)

_EMPTY_WORDS = "cast(map() as map<string,int>)"
_EMPTY_LINKS = "cast(array() as array<string>)"

_FCOLS = [f.name for f in FRONTIER_SCHEMA.fields]
# the finish code of each wave-row class run_wave assigns (the rest keep
# theirs: retry, good and sitemap rows stay OK, a good row found near-dup
# becomes TOO_SIMILAR)
_FINISH_OF = {
    "sift": FINISH.SIFTED,
    "deny": FINISH.NOT_ALLOWED,
    "bad": FINISH.BAD,
    "cache": FINISH.CACHE_ERROR,
    "lowpre": FINISH.LOWINFO_PRE,
    "redir": FINISH.REDIRECT,
    "exact": FINISH.TOO_EXACT,
    "lowpost": FINISH.LOWINFO_POST,
}
# false-positive rate of the broadcast-bloom prefilter of the URL-seen
# anti-join (SURVEY §2.3 J1 / north rule), keyed on xxhash64(urlhash).
# None runs the exact anti-join alone — the reference tests compare
# against; results are identical either way, the bloom only prunes probe
# rows. At perfbench sizes it costs: one wave on 4 vCPUs, materialize 9 vs
# 7 jobs and 0.9 vs 0.4 s of job time (polite), 8 vs 6 and 0.8 vs 0.5 s
# (wide), and the anti-join still shuffles the frontier. Read at call time.
SEEN_BLOOM_FPP = 0.01
# incremental seen-bloom headroom: the filter is sized for this factor x
# the frontier at build time, then each wave puts in only its inserts on
# the driver (O(inserts), not O(frontier)); a full rebuild happens only
# when the frontier outgrows the sized capacity — ~log_factor(growth)
# rebuilds over a whole crawl. fpp holds at all times because the filter
# never holds more keys than it was sized for.
SEEN_BLOOM_CAPACITY_FACTOR = 4
# vectorized simhash scan: when BOTH the wave and the master index fit
# under this many rows, the near-dup pass replays the reference's
# sequential FIFO scan with blocked numpy popcount on the driver (hashes
# only — 12 B/row) instead of the banded join, which saturates
# combinatorially on 32-bit fingerprints. Read at call time.
SIMHASH_NUMPY_CAP = 200_000
# quadratic-cliff guard: a 32-bit fingerprint's band buckets saturate on
# large corpora (measured: 9.3% of ALL pairs collide at just 5k docs —
# dedup_simhash_bitwidth_density), so above this many rows (wave + master
# index) the banded self-join would materialize a near-quadratic candidate
# set. The engine REFUSES to run that plan and points at simhash_bits=64
# (same plan shape, 3 orders of magnitude fewer candidates). Waves and
# indexes under SIMHASH_NUMPY_CAP never reach it; the guard never fires at
# bits=64. 0 disables it. Read at call time.
SIMHASH32_BANDED_MAX = 100_000


def _seq_child(seq_col, tag: str, ord_col):
    return F.concat(seq_col, F.lit("." + tag), F.lpad(ord_col.cast("string"), 7, "0"))


def _new_row(**cols) -> list:
    """FRONTIER_SCHEMA columns of a new frontier row: NO_DOWN, OK, depth
    0, empty words/links, no hashes, no retries — ``cols`` override."""
    row = {
        "parent": F.lit(None).cast("string"),
        "status": F.lit(STATUS.NO_DOWN),
        "finish": F.lit(FINISH.OK),
        **{d: F.lit(0) for d in ("absdepth", "reldepth", "monodepth", "dupdepth")},
        "words": F.expr(_EMPTY_WORDS),
        "links": F.expr(_EMPTY_LINKS),
        "exhash": F.lit(None).cast("string"),
        "smhash": F.lit(None).cast("long"),
        "retries": F.lit(0),
        **cols,
    }
    return [row[c].alias(c) for c in _FCOLS]


def _local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-side row tuples as a JVM-resident frame: Arrow
    makes them a LocalRelation, so reading it starts no Python worker —
    a frame made from a Python list does, on every scan. An empty one is
    a zero-row range."""
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    # object dtype: no float detour for nullable 64-bit hashes
    pdf = pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema)


def _sim_master():
    """A frontier row that is in the J5 master index (``sim_index``)."""
    return F.col("smhash").isNotNull() & (F.col("finish") != FINISH.TOO_SIMILAR)


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD under a localCheckpoint frame, else None."""
    plan = df._jdf.queryExecution().logical()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def _release(df: DataFrame) -> None:
    """Free a frame's blocks: its cache entry and, for a localCheckpoint,
    the checkpointed RDD under it (DataFrame.unpersist alone leaves those
    in the block manager)."""
    df.unpersist()
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


def _bands(hash_col, threshold: int = SIMHASH_THRESHOLD, bits: int = SIMHASH_BITS):
    nbands = threshold + 1
    width = (bits + nbands - 1) // nbands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(hash_col, i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                )
                for i in range(nbands)
            ]
        )
    )


def distributed_election(
    spark: SparkSession, pairs: DataFrame
) -> tuple[DataFrame, list[DataFrame], dict[str, int]]:
    """Greedy FIFO master election over the within-wave near-dup pair
    graph, evaluated distributed — no driver-side materialization.

    Semantics (identical to the sequential greedy, reference
    workerpipe.py:257-277): processing nodes in (gen, seq) order, a
    node is a DUP iff some earlier neighbor is a master, else it
    becomes a master. The greedy label depends only on earlier
    neighbors' labels (the pair edges form a DAG in (gen, seq) order),
    so a round-based fixpoint computes the same unique labeling.

    Each OUTER round over the undecided subgraph:
    1. a node with an in-edge from a MASTER is a dup — final, masters
       never relabel;
    2. recompute in-degree over the remaining undecided graph: indeg-0
       nodes have only dup (or no) earlier neighbors -> MASTER;
    3. indeg-1 nodes form an in-forest (each waits on exactly ONE
       undecided earlier neighbor; pointers strictly decrease (gen,
       seq), so no cycles). Along such a wait chain labels strictly
       ALTERNATE from the terminal: ptr(v)=master => v dup;
       ptr(v)=dup => v's earlier neighbors are all dups (indeg 1
       guarantees no other undecided one, step 1 ruled out masters)
       => v master. POINTER-DOUBLING finds every node's terminal and
       distance parity in O(log chain) self-joins, so a k-node chain
       resolves in ONE outer round — the round-2 formulation decided
       one chain node per round (O(k) Spark jobs on an adversarial
       hamming-gradient family; VERDICT r2 'What's wrong' #2);
    4. indeg>=2 nodes stay blocked this round (their undecided earlier
       neighbors may branch); the next round re-derives.

    Progress: the globally-minimum undecided node always has indeg 0,
    so every outer round decides >= 1 node; dense families collapse in
    ~2 rounds, chains in 1. Driver state: a few counts per round.

    ``pairs`` has columns (ha, ga, sa, hx, gx, sx): an edge from the
    earlier page a to the later page x. Returns (dups, frames, stats):
    a one-column (urlhash) DF of dups; every eager checkpoint the
    election created (the returned dups among them), for the caller to
    release once the dups are consumed; and the round counters
    ``{"outer_rounds", "doubling_steps"}``.
    """
    chain: list[DataFrame] = []
    edges = pairs.select(
        F.col("ha").alias("src"), F.col("hx").alias("dst")
    ).localCheckpoint(eager=True)
    und = (
        pairs.select(F.col("ha").alias("urlhash"))
        .unionByName(pairs.select(F.col("hx").alias("urlhash")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    chain += [edges, und]
    masters = _local_frame(spark, [], "urlhash string")
    dups = _local_frame(spark, [], "urlhash string")
    stats = {"outer_rounds": 0, "doubling_steps": 0}
    n_und = und.count()
    while n_und > 0:
        stats["outer_rounds"] += 1
        # 1. final dups: an earlier MASTER neighbor decides immediately
        dup_now = (
            edges.join(masters, edges.src == masters.urlhash, "left_semi")
            .select(F.col("dst").alias("urlhash"))
            .distinct()
            .join(und, "urlhash", "left_semi")
        )
        und2 = und.join(dup_now, "urlhash", "left_anti").localCheckpoint(
            eager=True
        )
        chain.append(und2)
        # 2. in-degree over the undecided-only subgraph
        live = (
            edges.join(und2, edges.src == und2.urlhash, "left_semi")
            .join(und2, edges.dst == und2.urlhash, "left_semi")
            .localCheckpoint(eager=True)
        )
        chain.append(live)
        indeg = live.groupBy("dst").agg(F.count("*").alias("deg"))
        roots = und2.join(
            indeg, und2.urlhash == indeg.dst, "left_anti"
        ).localCheckpoint(eager=True)
        chain.append(roots)
        # 3. wait-chain forest: indeg-1 nodes point at their single
        # undecided earlier neighbor
        ptr = (
            live.join(
                indeg.filter(F.col("deg") == 1).select("dst"), "dst", "left_semi"
            )
            .select(F.col("dst").alias("v"), F.col("src").alias("t"))
            .localCheckpoint(eager=True)
        )
        chain.append(ptr)
        # pointer doubling: follow t through ptr until it leaves the
        # forest (terminal = root / blocked / dup_now node). d = path
        # length; each step at most doubles it.
        P = ptr.select("v", "t", F.lit(1).alias("d"))
        while True:
            stats["doubling_steps"] += 1
            # true doubling: advance v's pointer by its TARGET's whole
            # known path — P' = P ∘ P, so path length covered doubles
            # each step (1, 2, 4, ...)
            p2 = P.select(
                F.col("v").alias("t2"),
                F.col("t").alias("tt"),
                F.col("d").alias("dd"),
            )
            P = (
                P.join(p2, P.t == F.col("t2"), "left")
                .select(
                    "v",
                    F.coalesce("tt", "t").alias("t"),
                    (F.col("d") + F.coalesce("dd", F.lit(0))).alias("d"),
                )
                .localCheckpoint(eager=True)
            )
            chain.append(P)
            # done when every pointer rests on a terminal (a node with
            # no outgoing ptr — not in the forest's key set)
            if (
                P.join(ptr.select(F.col("v").alias("k")), P.t == F.col("k"), "left_semi")
                .limit(1)
                .count()
                == 0
            ):
                break
        # chains whose terminal became a MASTER this round resolve by
        # parity; terminals still blocked leave their chain undecided
        reached = P.join(roots, P.t == roots.urlhash, "left_semi")
        chain_m = reached.filter(F.col("d") % 2 == 0).select("v")
        chain_d = reached.filter(F.col("d") % 2 == 1).select("v")
        new_masters = roots.select("urlhash").unionByName(
            chain_m.select(F.col("v").alias("urlhash"))
        )
        new_dups = dup_now.select("urlhash").unionByName(
            chain_d.select(F.col("v").alias("urlhash"))
        )
        masters = masters.unionByName(new_masters).localCheckpoint(eager=True)
        dups = dups.unionByName(new_dups).localCheckpoint(eager=True)
        und = (
            und2.join(new_masters, "urlhash", "left_anti")
            .join(new_dups, "urlhash", "left_anti")
            .localCheckpoint(eager=True)
        )
        chain += [masters, dups, und]
        prev, n_und = n_und, und.count()
        assert n_und < prev, "simhash election made no progress"
    return dups, chain, stats


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        robots_path: str,
        seeds: list[str],
        config: CrawlConfig | None = None,
        state_dir: str | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        # optional live-fetch stage (crawl/fetch.py): DataFrame[url] ->
        # DataFrame[FETCH_SCHEMA], joined in place of the corpus equi-join
        # (reference crawler2/download.py:22-40 surface)
        self.fetcher = fetcher
        self.pages = spark.read.parquet(pages_path).select(
            "url",
            F.col("status").alias("page_status"),
            "html",
            "content_type",
            "redirect_to",
            F.coalesce("retry_after", F.lit(0)).alias("retry_after"),
        )
        self.robots_src = spark.read.parquet(robots_path).select(
            "domain", F.col("status").alias("rstatus"), "body"
        )
        # seeds: a list, numbered by input position (the reference's seq
        # order); a DataFrame of seeds enters through add_seeds instead
        if isinstance(seeds, DataFrame):
            raise TypeError("seeds is a list of urls; add a DataFrame with add_seeds")
        self.seeds = list(seeds)
        self.store = SnapshotStore(state_dir) if state_dir else None
        self.links_meta_udf = make_links_meta_udf(self.cfg.whitelist)
        # fused text-plane UDF at the configured fingerprint width (32 =
        # reference parity; 64 = production plane, BASELINE.md scale notes)
        self.features_udf = make_crawl_features_udf(self.cfg.simhash_bits)
        self.robots_parse_udf = make_robots_parse_udf(self.cfg.user_agent)
        self.can_fetch_udf = make_can_fetch_udf(self.cfg.user_agent)
        self.metrics: list[dict] = []
        self.wave_no = 0
        # cross-wave state keeps a bounded, stable partitioning: unioning
        # per-wave deltas would otherwise grow the partition count (and the
        # task count of every downstream join) without bound
        self._nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # the last processed wave (checkpointed) — step-mode dump source
        self.last_wave: DataFrame | None = None
        self.frontier: DataFrame | None = None
        self.domains: DataFrame | None = None
        # the frontier's row count and sim_index size, observed when it
        # was set (_set_frontier, or init_state for a list of seeds)
        self._frontier_rows: int
        self._sim_index_rows: int
        # the sim_index hashes on the driver for the vectorized simhash
        # pass (lazy; valid only while it holds _sim_index_rows hashes)
        self._sim_hashes = None
        self._wave_n: int | None = None
        # round/doubling counters of the last distributed_election run
        # (tests + bench introspection)
        self.election_stats: dict[str, int] = {"outer_rounds": 0, "doubling_steps": 0}
        # incremental seen-set bloom: {"blob", "capacity", "covered"} —
        # valid only while covered == _frontier_rows (any path that grows
        # the frontier without putting its keys in, e.g. add_seeds, fails
        # that check and forces a full rebuild)
        self._seen_sketch: dict | None = None
        # build/merge counters (tests + bench introspection)
        self.sketch_stats: dict[str, int] = {"full_builds": 0, "delta_merges": 0}
        # the frame ledger: every wave frame and every superseded
        # checkpoint, freed at the end of the wave (see _hold)
        self._frames: list[DataFrame] = []

    # ------------------------------------------------------------- state
    def init_state(self, resume: bool = False) -> None:
        spark = self.spark
        # both driver mirrors are (re)built lazily against the new frontier
        self._seen_sketch = self._sim_hashes = None
        if resume and self.store is not None:
            loaded = self.store.load_latest(spark)
            if loaded is not None:
                wave, tables, metrics = loaded
                self.wave_no = wave + 1
                # demote any IN_USE rows (frontier.py:212-242 semantics);
                # the merge-on-read plan runs once, into the checkpoint
                self._set_frontier(
                    tables["frontier"].withColumn(
                        "status",
                        F.when(
                            F.col("status") == STATUS.IN_USE, STATUS.NO_DOWN
                        ).otherwise(F.col("status")),
                    )
                )
                self.domains = tables["domains"]
                self.metrics = metrics
                return
        rows, seen = [], set()
        for i, url in enumerate(self.seeds):
            # dedup seeds by urlhash, first wins (the reference nap dedups
            # on urlhash at add time, so trailing-slash / http-https twin
            # seeds collapse to one frontier row); seq keeps the input index
            h = S.urlhash(url)
            if h not in seen:
                seen.add(h)
                rows.append((h, url, S.seed_seq(i), S.domain_of(url)))
        # an Arrow LocalRelation under a foldable projection runs no job to
        # observe; seeds have no simhash
        cols = ("urlhash", "url", "seq", "domain")
        seeds = _local_frame(
            spark, rows, StructType([FRONTIER_SCHEMA[c] for c in cols])
        )
        self.frontier = seeds.select(
            *_new_row(**{c: F.col(c) for c in cols}, gen=F.lit(0))
        )
        self._frontier_rows, self._sim_index_rows = len(rows), 0
        self.domains = _local_frame(spark, [], DOMAINS_SCHEMA)
        self.wave_no = 0

    def _set_frontier(self, frontier: DataFrame) -> None:
        """The one frontier transition: ``frontier`` becomes ONE eager
        checkpoint (the superseded one is freed with the wave's frames)
        whose job observes its row count and ``sim_index`` size. The
        near-dup master hashes stay only if they are as many as the view's
        rows: the view only grows (rows are never re-processed, a master
        never becomes a near copy), so an equal count is an equal set."""
        obs = Observation()
        if self.frontier is not None:
            self._hold(self.frontier)
        self.frontier = frontier.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(_sim_master(), 1)).alias("sim"),
        ).localCheckpoint(eager=True)
        self._frontier_rows, self._sim_index_rows = obs.get["rows"], obs.get["sim"]
        if self._sim_hashes is not None and len(self._sim_hashes) != self._sim_index_rows:
            self._sim_hashes = None  # stale: re-collected by the next vectorized pass

    def add_seeds(self, seeds_df: DataFrame, seq_prefix: str = "") -> int:
        """Append the seeds of a ``url: string`` DataFrame whose urlhash the
        frontier does not hold yet, numbered under ``seq_prefix``
        (seeds_frontier_df): the one way a DataFrame of seeds enters, on a
        fresh engine (``CrawlEngine(..., [])``) or on a resumed one, as each
        batch of a seed stream does. Returns how many rows were added."""
        if self.frontier is None:
            self.init_state()
        new = self.seeds_frontier_df(seeds_df, seq_prefix).join(
            self.frontier.select("urlhash"), "urlhash", "left_anti"
        )
        before = self._frontier_rows
        self._set_frontier(self.frontier.unionByName(new))
        return self._frontier_rows - before

    @property
    def exact_buckets(self) -> DataFrame | None:
        """J4 master index, a view over the frontier: ``(exhash, master)``
        of every fetched content page that is not itself an exact copy
        (one master per exhash)."""
        if self.frontier is None:
            return None
        return self.frontier.filter(
            F.col("exhash").isNotNull() & (F.col("finish") != FINISH.TOO_EXACT)
        ).select("exhash", F.col("urlhash").alias("master"))

    @property
    def sim_index(self) -> DataFrame | None:
        """J5 master index, a view over the frontier: ``(smhash, master,
        mgen, mseq)`` of every fingerprinted page that is not itself a
        near copy."""
        if self.frontier is None:
            return None
        return self.frontier.filter(_sim_master()).select(
            "smhash",
            F.col("urlhash").alias("master"),
            F.col("gen").alias("mgen"),
            F.col("seq").alias("mseq"),
        )

    def seeds_frontier_df(
        self, seeds_df: DataFrame, seq_prefix: str = ""
    ) -> DataFrame:
        """FRONTIER_SCHEMA seed rows (``_new_row``) from a ``url: string``
        DataFrame with NO driver round-trip, for add_seeds: urlhash/domain
        from the engine's Arrow-batched ``links_meta_udf``, urlhash dedup
        keeping the lexicographically-first spelling (the deterministic
        stand-in for the reference nap's first-add-wins over a set with no
        defined order), and seq numbering by sorted-url rank under
        ``seq_prefix``. The global rank is ONE executor-side sort task
        sized by the seed batch (a global contiguous sequence is inherently
        a serialization point); nothing ever lands on the driver — the
        bound VERDICT r3 #8 asked for. A fatter-than-one-executor drop
        would swap the row_number for a range-partitioned two-pass offset
        sum; at frontier scale seeds are the small table."""
        ident = self.links_meta_udf(F.array("url"), F.lit(None).cast("string"))[0]
        meta = seeds_df.select("url").distinct().select("url", ident.alias("m"))
        first = Window.partitionBy("m.urlhash").orderBy("url")
        rank = Window.orderBy("url")
        return (
            meta.withColumn("_rn", F.row_number().over(first))
            .filter(F.col("_rn") == 1)
            .withColumn("_i", F.row_number().over(rank) - 1)
            .select(
                *_new_row(
                    urlhash=F.col("m.urlhash"),
                    url=F.col("url"),
                    gen=F.lit(0),
                    seq=F.concat(
                        F.lit(seq_prefix), F.format_string("%07d", F.col("_i"))
                    ),
                    domain=F.col("m.domain"),
                )
            )
        )

    # ----------------------------------------------------- wave selection
    @cached_property
    def _ranks(self) -> DataFrame:
        """``(domain, _rank)``: priority_table, read (a schema job) once."""
        if self.cfg.priority_table is None:
            raise ValueError(
                "frontier_policy='domain_rank' needs priority_table "
                "(parquet of domain:string, rank:double)"
            )
        return self.spark.read.parquet(self.cfg.priority_table).select(
            "domain", F.col("rank").cast("double").alias("_rank")
        )

    def _priority_keys(self, p: DataFrame) -> tuple[DataFrame, list]:
        """Frontier priority-queue ordering (CrawlConfig.frontier_policy):
        returns ``p`` (with the rank join applied for domain_rank) and the
        ordering keys the budgeted selection pops by. FIFO keys always
        trail as the deterministic tie-break, so every policy is a total
        order and the salted two-phase top-B argument below still holds
        (any within-domain total order does)."""
        pol = self.cfg.frontier_policy
        keys: list = []
        if pol == "shallow":
            keys = [F.col("absdepth")]
        elif pol == "deep":
            keys = [F.col("absdepth").desc()]
        elif pol == "domain_rank":
            p = p.join(F.broadcast(self._ranks), "domain", "left").withColumn(
                "_rank", F.coalesce(F.col("_rank"), F.lit(0.0))
            )
            keys = [F.col("_rank").desc()]
        elif pol != "fifo":
            raise ValueError(f"unknown frontier_policy {pol!r}")
        return p, keys + [F.col("gen"), F.col("seq")]

    def _select_wave(self, pending: DataFrame) -> DataFrame:
        cfg = self.cfg
        if cfg.wave_seconds is None and cfg.global_budget is None:
            return pending
        p = pending.join(self.domains.select("domain", "crawl_delay"), "domain", "left")
        p, order_keys = self._priority_keys(p)
        if cfg.wave_seconds is not None:
            delay = F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_delay))
            delay = F.when(delay <= 0, cfg.default_delay).otherwise(delay)
            budget = F.greatest(
                F.lit(1), F.floor(F.lit(cfg.wave_seconds) / delay)
            )
            # two-phase exact per-domain top-budget: phase 1 ranks within
            # (domain, salt) so a mega-host's pending rows never serialize
            # into one window task (domain-salted repartitioning); phase 2
            # ranks the <= SALTS x budget survivors exactly. The union of
            # per-salt top-B contains the global per-domain top-B, so the
            # selection is identical to a single unsalted window.
            SALTS = 16
            salt = F.pmod(F.xxhash64("urlhash"), F.lit(SALTS))
            rn1 = F.row_number().over(
                Window.partitionBy("domain", "_salt").orderBy(*order_keys)
            )
            rn2 = F.row_number().over(
                Window.partitionBy("domain").orderBy(*order_keys)
            )
            # the explicit repartition is load-bearing: with two stacked
            # windows Catalyst satisfies BOTH from one
            # hashpartitioning(domain) exchange (clustering by domain is a
            # valid clustering for (domain, _salt) too), which silently
            # puts every mega-host row back into ONE window task —
            # exactly the skew this exists to break. Forcing the phase-1
            # exchange onto (domain, _salt) keeps the heavy sort/rank
            # split SALTS ways; phase 2 then shuffles only the
            # <= SALTS x budget survivors per domain (tests/test_skew.py
            # pins both the plan shape and selection equality).
            p = (
                p.withColumn("_salt", salt)
                .repartition(F.col("domain"), F.col("_salt"))
                .withColumn("_rn1", rn1)
                .filter(F.col("_rn1") <= budget)
                .withColumn("_rn2", rn2)
                .filter(F.col("_rn2") <= budget)
                .drop("_salt", "_rn1", "_rn2")
            )
        p = p.drop("crawl_delay")
        if cfg.global_budget is not None:
            p = p.orderBy(*order_keys).limit(cfg.global_budget)
        if self.cfg.frontier_policy == "domain_rank":
            p = p.drop("_rank")
        return p

    # --------------------------------------------------------- wave body
    def run_wave(self, wave: DataFrame) -> tuple[dict, dict]:
        """Process one wave as ONE classification pipeline.

        Every wave row gets a class ``_k`` from one CASE chain carried
        through sift → robots gate → fetch join → retry/pre-filters →
        exact dedup → features UDF, and its new frontier columns in the
        same projection; the rows land in ONE eager checkpoint (``cls``,
        no ``html``). The near-dup pass, link expansion and the wave delta
        all read that checkpoint, so no later step re-runs the wave's joins
        or UDFs. Prior masters come from the ``exact_buckets`` /
        ``sim_index`` views over the frontier as it stood before the wave;
        this wave's masters enter them when its delta lands in the
        frontier. Each Python UDF appears once in the plan: a UDF under a
        CASE runs on every row anyway, so the features UDF gets ``html``
        only on content-master rows (null elsewhere, which it parses as an
        empty page). Filtering the masters and joining their features back
        would put the whole classification subtree in the plan twice, with
        differently pruned columns, so AQE could not reuse its exchanges.

        Returns (deltas, counters): per state table the wave's rows
        (``frontier``: its rows in their new state plus its inserts, from
        one eager checkpoint; ``domains``: the new hosts), the input of the
        frontier swap and the store commit; and the wave's counters.
        """
        sifted = (
            (F.col("absdepth") > S.MAX_ABSDEPTH)
            | (F.col("reldepth") > S.MAX_RELDEPTH)
            | (F.col("monodepth") > S.MAX_MONODEPTH)
            | (F.col("dupdepth") > S.MAX_DUPDEPTH)
        )

        # ---- S3 domain init: robots fetch+parse for first-seen domains
        # (one row per new host), filled eagerly so the gate below reads a
        # checkpoint whose size the planner knows
        with self._phase("domains"):
            trig = (
                wave.filter(~sifted)
                .groupBy("domain")
                .agg(F.min(F.struct("gen", "seq")).alias("trig"))
            )
            new_doms = trig.join(self.domains.select("domain"), "domain", "left_anti")
            parsed = (
                new_doms.join(self.robots_src, "domain", "left")
                .withColumn("r", self.robots_parse_udf(F.col("rstatus"), F.col("body")))
                .select("domain", "trig", F.col("body").alias("rules_body"), "r.*")
                .withColumn(
                    "_sm",
                    self.links_meta_udf(
                        F.col("sitemap_urls"), F.lit(None).cast("string")
                    ),
                )
                .localCheckpoint(eager=True)
            )
            self._hold(parsed)
            # an EAGER checkpoint never reads a released frame (a lazy one
            # saves nothing: under AQE, localCheckpoint(eager=False) runs
            # the plan's shuffle stages at call time and again when read)
            new_domains = parsed.select(*DOMAINS_SCHEMA.fieldNames())
            self._hold(self.domains)  # superseded; freed with the wave's frames
            self.domains = (
                self.domains.unionByName(new_domains)
                .coalesce(self._nparts)
                .localCheckpoint(eager=True)
            )

        # ---- classify: F7 sift, F8 robots gate, S2/J2 fetch, retry
        # loopback, F9/F10/F11 pre-filters, J4/W2 exact dedup, T1-T5/F12/C4
        # fused features — one plan, one checkpoint
        with self._phase("classify"):
            cls = self._classify(wave, sifted)
            self._hold(cls)

        # ---- J5 near-dup: vectorized FIFO scan or banded join + election
        with self._phase("neardup"):
            good = cls.filter(F.col("_k") == "good").select(
                "urlhash", "gen", "seq", "smhash"
            )
            dups = self._simhash_stage(good)

        # ---- the wave's delta: its rows' new state + its inserts
        with self._phase("materialize"):
            rows = cls.join(
                dups.select("urlhash", F.lit(True).alias("_dup")), "urlhash", "left"
            )
            dup = F.coalesce(F.col("_dup"), F.lit(False))
            expands = F.col("_k").isin("good", "sitemap") & ~dup
            over = {
                "finish": F.when(dup, FINISH.TOO_SIMILAR).otherwise(F.col("finish")),
                "links": F.when(expands, F.transform("_ch", lambda c: c["urlhash"]))
                .when(
                    F.col("_rd").isNotNull(),
                    F.concat(
                        F.coalesce(F.col("links"), F.expr(_EMPTY_LINKS)),
                        F.array(F.col("_rd.urlhash")),
                    ),
                )
                .otherwise(F.col("links")),
            }
            updates = rows.select(*[over.get(c, F.col(c)).alias(c) for c in _FCOLS])
            inserts = self._new_urls(
                self._sitemap_inserts(parsed),
                self._redirect_children(cls),
                self._link_children(rows.filter(expands)),
            )
            # finish-code histogram + insert count ride the checkpoint
            # job as an Observation (accumulator-backed) — no extra pass
            obs = Observation(f"wave-{self.wave_no}")
            ins = F.col("_ins")
            # the seen sketch's delta keys (_advance_seen_sketch), gathered
            # on the driver whenever the bloom is on (_new_urls above built
            # or kept the sketch they go into)
            keys = (
                [F.collect_list(F.when(ins, F.xxhash64("urlhash"))).alias("_keys")]
                if SEEN_BLOOM_FPP is not None
                else []
            )
            delta = (
                updates.withColumn("_ins", F.lit(False))
                .unionByName(inserts.withColumn("_ins", F.lit(True)))
                .observe(
                    obs,
                    F.sum((~ins).cast("long")).alias("n_updates"),
                    *[
                        F.sum((~ins & (F.col("finish") == code)).cast("long")).alias(
                            f"finish_{code}"
                        )
                        for code in (0, 1, 2, 3, 4, 5, 6, 7, 8, 255)
                    ],
                    F.sum(ins.cast("long")).alias("n_inserts"),
                    *keys,
                )
                .localCheckpoint(eager=True)
            )
            self._hold(delta)
        observed = dict(obs.get)
        keys, n_inserts = observed.pop("_keys", None), observed.pop("n_inserts")
        counters = {"wave": self.wave_no, "n_wave": self._wave_n}
        counters.update({k: v for k, v in observed.items() if v})
        counters["n_inserts"] = n_inserts
        self._advance_seen_sketch(keys)
        deltas = {"frontier": delta.drop("_ins"), "domains": new_domains}
        return deltas, counters

    def _classify(self, wave: DataFrame, sifted) -> DataFrame:
        """The wave's rows with class ``_k`` and their new frontier columns
        (near-dup aside: a ``good`` row is finished OK here and flipped to
        TOO_SIMILAR by the caller), plus the link metadata of pages that
        expand (``_ch``: valid links in order), the redirect target
        (``_rd``); eagerly checkpointed, without ``html``."""
        gate = self.domains.select("domain", "rules_body", "disallow_all", "allow_all")
        g = wave.join(gate, "domain", "left").withColumn(
            "_allowed",
            self.can_fetch_udf(
                F.col("url"), F.col("rules_body"), F.col("disallow_all"), F.col("allow_all")
            ),
        )
        # S2/J2 fetch = equi-join against the pages corpus, or the
        # live-fetch stage when a fetcher is injected (same columns); only
        # live, allowed urls are ever fetched (so a fetcher's plan runs
        # the gate UDF a second time, over its input)
        if self.fetcher is None:
            fetched = g.join(self.pages, "url", "left")
        else:
            responses = self.fetcher(
                g.filter(~sifted & F.col("_allowed")).select("url").distinct()
            )
            fetched = g.join(responses, "url", "left")
        has_page = F.col("page_status").isNotNull()
        eff = F.when(F.col("retries") < F.col("retry_after"), 503).otherwise(
            F.col("page_status")
        )
        # retry loopback (workerpipe.py:110-127 as next-wave deferral; the
        # (gen, seq) key keeps FIFO parity — schema.py)
        retry = F.coalesce(
            has_page & eff.between(500, 511) & (F.col("retries") < S.MAX_RETRIES),
            F.lit(False),
        )
        body_len = F.length(F.col("html"))
        k = (
            F.when(sifted, "sift")
            .when(~F.col("_allowed"), "deny")
            .when(retry, "retry")
            .when(F.coalesce(eff.isin(401, 403, 404), F.lit(False)), "bad")
            .when(~has_page | eff.between(600, 606), "cache")
            .when(F.coalesce(eff.between(300, 399), F.lit(False)), "redir")
            .when(
                (body_len < S.MIN_CONTENT_LEN) | (body_len > S.MAX_CONTENT_LEN),
                "lowpre",
            )
            .otherwise("content")
        )
        content = F.col("_k") == "content"
        c = (
            fetched.withColumn("_k", k)
            .withColumn(
                "exhash",
                F.when(content, exhash_col(F.col("html"))).otherwise(F.col("exhash")),
            )
            # J4 exact dedup against prior buckets ...
            .join(
                self.exact_buckets.select(
                    F.col("exhash").alias("_xh"), F.col("master").alias("_exm")
                ),
                content & (F.col("exhash") == F.col("_xh")),
                "left",
            )
            # ... and within the wave (W2): the FIFO-first row per exhash
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy(
                        content, F.when(content, F.col("exhash")).otherwise(F.col("urlhash"))
                    ).orderBy("gen", "seq")
                ),
            )
            .withColumn(
                "_k",
                F.when(
                    content & (F.col("_exm").isNotNull() | (F.col("_rk") > 1)), "exact"
                ).otherwise(F.col("_k")),
            )
        )
        # T1/T2 parse + T3-T5 tokenize + F12 low-info + C4 simhash in one
        # Arrow round trip, fed html only on the content masters
        master = F.col("_k") == "content"
        c = c.withColumn(
            "feat",
            self.features_udf(
                F.col("url"), F.when(master, F.col("html")), F.col("content_type")
            ),
        )
        lowpost = (
            (F.col("feat.n_unique") < S.MIN_UNIQUE_WORDS)
            | (F.col("feat.max_count") < S.MIN_MAX_WORD_COUNT)
            | (F.col("feat.n_total") < S.MIN_WORDS)
        )
        c = c.withColumn(
            "_k",
            F.when(master & F.col("feat.sitemap"), "sitemap")
            .when(master & lowpost, "lowpost")
            .when(master, "good")
            .otherwise(F.col("_k")),
        )
        k = F.col("_k")
        redirects = (k == "redir") & F.col("redirect_to").isNotNull()
        c = c.withColumn(
            "_lk",
            self.links_meta_udf(
                F.when(k.isin("good", "sitemap"), F.col("feat.links"))
                .when(redirects, F.array(F.col("redirect_to")))
                .otherwise(F.expr(_EMPTY_LINKS)),
                F.col("url"),
            ),
        )
        new = {
            "status": F.when(k.isin("sift", "retry"), F.col("status")).otherwise(
                F.lit(STATUS.IS_DOWN)
            ),
            # retry, good and sitemap rows stay OK
            "finish": F.coalesce(
                F.create_map(*[F.lit(x) for kv in _FINISH_OF.items() for x in kv])[k],
                F.col("finish"),
            ),
            "words": F.when(
                k.isin("lowpost", "good"), crawl_words_col(F.col("feat"))
            ).otherwise(F.col("words")),
            "smhash": F.when(k == "good", F.col("feat.smhash")).otherwise(
                F.col("smhash")
            ),
            "retries": F.when(k == "retry", F.col("retries") + 1).otherwise(
                F.col("retries")
            ),
        }
        extra = [
            "_k",
            F.when(
                k.isin("good", "sitemap"), F.filter("_lk", lambda x: x["valid"])
            ).alias("_ch"),
            F.when(redirects, F.col("_lk")[0]).alias("_rd"),
        ]
        return c.select(
            *[new.get(n, F.col(n)).alias(n) for n in _FCOLS], *extra
        ).localCheckpoint(eager=True)

    def _sitemap_inserts(self, parsed: DataFrame) -> DataFrame:
        """S4 sitemap seeding (frontier.py:165-176): fresh nurls at
        absdepth=1, parent = unhashed robots url, ordered before the
        trigger page's own children ('a' < 'b' < 'c')."""
        return parsed.select(
            "domain", "trig", F.posexplode("_sm").alias("pos", "m")
        ).select(
            *_new_row(
                urlhash=F.col("m.urlhash"),
                url=F.col("m.url"),
                parent=F.concat(F.col("domain"), F.lit("/robots.txt")),
                absdepth=F.lit(1),
                gen=F.col("trig.gen") + 1,
                seq=_seq_child(F.col("trig.seq"), "a", F.col("pos")),
                domain=F.col("m.domain"),
            )
        )

    @staticmethod
    def _redirect_children(cls: DataFrame) -> DataFrame:
        """Redirect expansion (workerpipe.py:163-186): the child inherits
        depths (NOT +1) and value-copies of words/links; the parent's own
        row gets the child hash appended to links (run_wave)."""
        keep = ("parent", "absdepth", "reldepth", "monodepth", "dupdepth", "words", "links")
        return cls.filter(F.col("_rd").isNotNull()).select(
            *_new_row(
                urlhash=F.col("_rd.urlhash"),
                url=F.col("_rd.url"),
                gen=F.col("gen") + 1,
                seq=_seq_child(F.col("seq"), "b", F.lit(0)),
                domain=F.col("_rd.domain"),
                **{c: F.col(c) for c in keep},
            )
        )

    @staticmethod
    def _link_children(parents: DataFrame) -> DataFrame:
        """Link expansion (W3 + C9/C10 + F4-F6) of OK content and sitemap
        pages: one child per valid link, ordinal = its rank among the
        page's valid links."""
        ex = parents.select(
            "urlhash", "gen", "seq", "absdepth", "reldepth", "monodepth", "dupdepth",
            F.posexplode("_ch").alias("_ord", "c"),
        )
        ddelta = F.col("c.ddelta")
        return ex.select(
            *_new_row(
                urlhash=F.col("c.urlhash"),
                url=F.col("c.url"),
                parent=F.col("urlhash"),
                absdepth=F.col("absdepth") + 1,
                reldepth=F.when(ddelta == 1, F.col("reldepth") + 1).otherwise(0),
                monodepth=F.when(ddelta >= 1, F.col("monodepth") + 1).otherwise(0),
                dupdepth=F.when(ddelta == 0, F.col("dupdepth") + 1).otherwise(0),
                gen=F.col("gen") + 1,
                seq=_seq_child(F.col("seq"), "c", F.col("_ord")),
                domain=F.col("c.domain"),
            )
        )

    # --------------------------------------------- seen-sketch maintenance
    def _advance_seen_sketch(self, keys: list[int] | None) -> None:
        """Keep the incremental seen-bloom valid after a wave lands: put
        this wave's insert keys (xxhash64(urlhash), observed by the delta
        checkpoint job) into the running filter on the driver — O(inserts)
        and no Spark job; the bits set are exactly the sketch's putLong
        bits. When the frontier outgrows the sized capacity the sketch is
        dropped instead — the next wave does one full rebuild at factor x
        the new size. _seen_probe checks coverage against the swap's count."""
        if not keys:
            return
        st = self._seen_sketch
        if st["covered"] + len(keys) > st["capacity"]:
            self._seen_sketch = None  # outgrew the sizing -> rebuild next wave
            return
        import numpy as np

        st["blob"] = st["blob"].with_keys(np.array(keys, dtype=np.int64))
        st["covered"] += len(keys)
        self.sketch_stats["delta_merges"] += 1

    # ------------------------------------------------ seen-set anti-join
    def _new_urls(self, *candidates: DataFrame) -> DataFrame:
        """J1: the FIFO-first candidate row per urlhash, for the urlhashes
        not yet in the frontier.

        With ``SEEN_BLOOM_FPP`` set, a broadcast bloom over the frontier's
        64-bit URL keys (built distributed, JVM tree-aggregated; probed in
        a vectorized Arrow UDF — functions/bloom.py) splits candidates
        into definitely-new (skip the join entirely; blooms have no false
        negatives) and maybe-seen (exact anti-join kills false positives).
        Identical output to the plain anti-join by construction.

        The bloom MUST be keyed on the exact-join key itself —
        ``xxhash64(urlhash)``, the scheme-less canonical identity — not on
        a hash of the raw url: an http/https twin of a seen page hashes to
        a different url but the SAME urlhash, and keying the bloom on the
        url would classify it 'definitely new' and duplicate the frontier
        row (the urlhash is the "canonicalized + 64-bit-hashed URL" of the
        north rule).
        """
        maybe_seen = (
            F.lit(True)
            if SEEN_BLOOM_FPP is None
            else self._seen_probe()(F.xxhash64(F.col("urlhash")))
        )
        cand = reduce(DataFrame.unionByName, candidates).withColumn("_maybe", maybe_seen)
        rest = [c for c in cand.columns if c != "urlhash"]
        first = (
            cand.groupBy("urlhash")
            .agg(F.min_by(F.struct(*rest), F.struct("gen", "seq")).alias("r"))
            .select("urlhash", "r.*")
        )
        # both branches read the one dedup exchange (AQE reuses it), so the
        # probe runs once per candidate
        return (
            first.filter(~F.col("_maybe"))
            .unionByName(
                first.filter(F.col("_maybe")).join(
                    self.frontier.select("urlhash"), "urlhash", "left_anti"
                )
            )
            .select(*_FCOLS)
        )

    def _seen_probe(self):
        """The bloom probe UDF over the current frontier. Incremental
        (SEEN_BLOOM_CAPACITY_FACTOR): a full O(frontier) build only when
        no valid sketch covers the current frontier; between rebuilds each
        wave puts in only its inserts (_advance_seen_sketch) — at a
        10^10-row frontier this is the difference between re-scanning the
        frontier every wave and touching only the new rows."""
        from spacetime_crawler4_spark.functions.bloom import (
            build_bloom,
            might_contain_udf,
        )

        st = self._seen_sketch
        if st is None or st["covered"] != self._frontier_rows:
            capacity = max(self._frontier_rows * SEEN_BLOOM_CAPACITY_FACTOR, 1024)
            blob = build_bloom(
                self.frontier.select(F.xxhash64(F.col("urlhash")).alias("k")),
                "k",
                expected=capacity,
                fpp=SEEN_BLOOM_FPP,
            )
            self._seen_sketch = st = {
                "blob": blob,
                "capacity": capacity,
                "covered": self._frontier_rows,
            }
            self.sketch_stats["full_builds"] += 1
        return might_contain_udf(st["blob"])

    # ------------------------------------------------- simhash wave stage
    def _simhash_stage(self, good: DataFrame) -> DataFrame:
        """Returns a one-column DF (urlhash) of TOO_SIMILAR rows this wave;
        the wave's other ``good`` rows become masters (they enter the
        ``sim_index`` view when the wave's delta lands in the frontier).

        Reference semantics (workerpipe.py:257-277): a page is a near-dup
        iff its simhash is within hamming<=5 of an EXISTING MASTER bucket
        (earliest-created matching bucket wins; dups never create buckets).
        One path per input size:

        - wave and master index under SIMHASH_NUMPY_CAP: the vectorized
          FIFO scan on the driver (_simhash_stage_vectorized);
        - above it: LSH banding, exact by pigeonhole (6 bands for <=5
          differing bits, so no candidate pair is missed), then within-wave
          chaining (who became a master moments earlier) resolved greedily
          in (gen, seq) order over the candidate-pair graph by the
          DISTRIBUTED round-based fixpoint (distributed_election) — O(1)
          driver state, so a dense wave cannot OOM the driver.
        """
        spark = self.spark
        cand = good.select("urlhash", "gen", "seq", "smhash")
        done = self._simhash_stage_vectorized(cand)
        if done is not None:
            return done
        bits = self.cfg.simhash_bits
        if bits <= 32 and SIMHASH32_BANDED_MAX > 0:
            # quadratic-cliff guard (SIMHASH32_BANDED_MAX): saturated
            # 32-bit band buckets make the self-join candidate set
            # near-quadratic; refuse rather than silently running it
            total = (self._wave_n or 0) + self._sim_index_rows
            if total > SIMHASH32_BANDED_MAX:
                raise RuntimeError(
                    f"simhash_bits=32 banded near-dup refused at wave "
                    f"{self.wave_no}: wave+index = {total} rows > "
                    f"engine.SIMHASH32_BANDED_MAX={SIMHASH32_BANDED_MAX}. "
                    f"A saturated 32-bit fingerprint makes this self-join "
                    f"near-quadratic (BASELINE.md). Use simhash_bits=64 "
                    f"(production plane, same LSH shape), keep waves and "
                    f"index under SIMHASH_NUMPY_CAP for the linear "
                    f"vectorized scan, or set engine.SIMHASH32_BANDED_MAX=0 "
                    f"to override."
                )
        cband = cand.select(
            "urlhash", "gen", "seq", "smhash",
            _bands(F.col("smhash"), bits=bits).alias("b"),
        )
        mband = self.sim_index.select(
            "master", "smhash", _bands(F.col("smhash"), bits=bits).alias("b")
        ).withColumnRenamed("smhash", "msmhash")

        vs_masters = (
            cband.alias("c")
            .join(
                mband.alias("m"),
                (F.col("c.b.band") == F.col("m.b.band"))
                & (F.col("c.b.val") == F.col("m.b.val")),
            )
            .filter(
                F.bit_count(F.col("c.smhash").bitwiseXOR(F.col("msmhash")))
                <= SIMHASH_THRESHOLD
            )
            .select(F.col("c.urlhash").alias("urlhash"))
            .distinct()
        ).cache()
        self._hold(vs_masters)
        fresh = cand.join(vs_masters, "urlhash", "left_anti")

        fband = fresh.select(
            "urlhash", "gen", "seq", "smhash",
            _bands(F.col("smhash"), bits=bits).alias("b"),
        )
        pairs = (
            fband.alias("a")
            .join(
                fband.alias("x"),
                (F.col("a.b.band") == F.col("x.b.band"))
                & (F.col("a.b.val") == F.col("x.b.val"))
                & (
                    F.struct(F.col("a.gen"), F.col("a.seq"))
                    < F.struct(F.col("x.gen"), F.col("x.seq"))
                ),
            )
            .filter(
                F.bit_count(F.col("a.smhash").bitwiseXOR(F.col("x.smhash")))
                <= SIMHASH_THRESHOLD
            )
            .select(
                F.col("a.urlhash").alias("ha"),
                F.col("a.gen").alias("ga"),
                F.col("a.seq").alias("sa"),
                F.col("x.urlhash").alias("hx"),
                F.col("x.gen").alias("gx"),
                F.col("x.seq").alias("sx"),
            )
            .distinct()
            .cache()
        )
        self._hold(pairs)
        within_dups, frames, self.election_stats = distributed_election(spark, pairs)
        for df in frames:
            self._hold(df)
        return vs_masters.unionByName(within_dups)

    # -------------------------------------- vectorized simhash fast path
    def _simhash_stage_vectorized(self, cand: DataFrame):
        """Driver-vectorized near-dup pass for politeness-bounded waves.

        The 32-bit parity fingerprint saturates its band buckets (64
        values per 6-bit band), so on dense waves the banded self-join
        materializes tens of millions of candidate pairs — yet the HASHES
        are tiny (12 B/row). Below ``SIMHASH_NUMPY_CAP`` rows (wave AND
        master index), this collects only (urlhash, gen, seq, smhash) and
        replays the reference's exact sequential discipline
        (workerpipe.py:261 — scan each page in FIFO order against all
        masters so far, hamming<=5 => dup, else it becomes a master) with
        blocked numpy XOR+popcount — identical output to the banded plan,
        measured ~10x on saturated waves. The master-hash array is carried
        across waves on the driver (O(masters) — bounded by the cap); the
        swap keeps it only if its length equals the new ``sim_index`` size.

        Returns the TOO_SIMILAR urlhash DF, or None to fall back to the
        fully distributed banded plan (mega waves / huge index), which
        leaves the array short: the next vectorized wave re-collects it.
        """
        import numpy as np

        cap = SIMHASH_NUMPY_CAP
        if self._sim_index_rows > cap or self._wave_n is None or self._wave_n > cap:
            return None
        # plain collect, NOT limit().collect(): CollectLimit schedules scan
        # partitions incrementally; the wave bound above already caps
        # driver memory
        rows = cand.collect()
        if self._sim_hashes is None and self._sim_index_rows == 0:
            self._sim_hashes = np.empty(0, dtype=np.uint64)
        elif self._sim_hashes is None:
            # first vectorized wave after a resume or a banded wave: one
            # bounded collect
            self._sim_hashes = np.array(
                [r["smhash"] for r in self.sim_index.select("smhash").collect()],
                dtype=np.int64,
            ).astype(np.uint64)
        lut = POPCOUNT16
        thr = SIMHASH_THRESHOLD
        order = sorted(range(len(rows)), key=lambda i: (rows[i]["gen"], rows[i]["seq"]))
        m0 = len(self._sim_hashes)
        masters = np.empty(m0 + len(rows), dtype=np.uint64)
        masters[:m0] = self._sim_hashes
        m = m0
        # 32-bit parity fingerprints need only the two low 16-bit lookups
        wide = bool(m0 and (self._sim_hashes >> np.uint64(32)).any()) or any(
            (r["smhash"] or 0) >> 32 for r in rows
        )
        dups: list[str] = []
        CHUNK = 8192
        for i in order:
            h = np.uint64(np.int64(rows[i]["smhash"]))
            is_dup = False
            # newest-first chunks: a near-dup's master was almost always
            # created moments earlier in the same wave (family pages), so
            # the early exit fires in the first block
            for e in range(m, 0, -CHUNK):
                x = masters[max(e - CHUNK, 0) : e] ^ h
                pc = lut[(x & np.uint64(0xFFFF)).astype(np.int64)] + lut[
                    ((x >> np.uint64(16)) & np.uint64(0xFFFF)).astype(np.int64)
                ]
                if wide:
                    pc = (
                        pc
                        + lut[((x >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.int64)]
                        + lut[(x >> np.uint64(48)).astype(np.int64)]
                    )
                if (pc <= thr).any():
                    is_dup = True
                    break
            if is_dup:
                dups.append(rows[i]["urlhash"])
            else:
                masters[m] = h
                m += 1
        self._sim_hashes = masters[:m]
        return _local_frame(self.spark, [(u,) for u in sorted(dups)], "urlhash string")

    # ----------------------------------------------------------- the loop
    def run(self, resume: bool = False) -> DataFrame:
        if self.frontier is None:
            self.init_state(resume=resume)
        cfg = self.cfg
        waves_this_run = 0
        while waves_this_run < cfg.max_waves:
            waves_this_run += 1
            with self._wave_scope():
                pending = self.frontier.filter(
                    (F.col("status") == STATUS.NO_DOWN) & (F.col("finish") == FINISH.OK)
                )
                # per-wave phase walls (driver-side; ride the metrics JSON):
                # select = budget windows + cut, run = run_wave + frontier
                # swap (BASELINE.md's Amdahl split)
                _t0 = time.time()
                with self._phase("select"):
                    picked = Observation(f"select-{self.wave_no}")
                    wave = (
                        self._select_wave(pending)
                        .observe(picked, F.count(F.lit(1)).alias("n"))
                        .localCheckpoint(eager=True)
                    )
                    n = picked.get["n"]
                if n == 0:
                    _release(wave)  # nothing consumed it beyond the count
                    break
                if self.last_wave is not None:
                    self._hold(self.last_wave)  # superseded previous wave frame
                self.last_wave = wave
                self._wave_n = n
                _t1 = time.time()
                deltas, counters = self.run_wave(wave)
                with self._phase("materialize"):
                    # the wave's rows and inserts (disjoint urlhashes)
                    # replace their old versions
                    untouched = self.frontier.join(
                        wave.select("urlhash"), "urlhash", "left_anti"
                    )
                    self._set_frontier(
                        untouched.unionByName(deltas["frontier"]).repartition(
                            self._nparts, "urlhash"
                        )
                    )
                counters["wall_select_s"] = round(_t1 - _t0, 2)
                counters["wall_run_s"] = round(time.time() - _t1, 2)
                self.metrics.append(counters)
                if self.store is not None:
                    with self._phase("commit"):
                        self._commit_state(deltas)
                self._release_frames()
                self.wave_no += 1
        return self.frontier

    def close(self) -> None:
        """Release everything the engine holds in the block manager: the
        frame ledger, the last wave and the two state tables (the master
        indexes are views over the frontier and hold nothing). The engine
        is unusable afterwards."""
        self._release_frames()
        for name in ("last_wave", *TABLES):
            df = getattr(self, name)
            if df is not None:
                _release(df)
            setattr(self, name, None)

    # ------------------------------------------------ job attribution
    @contextmanager
    def _wave_scope(self):
        """Tag every Spark job of this wave ``crawl-wave-<n>`` (AQE stage
        and broadcast jobs inherit the tag); the caller's tags survive."""
        sc = self.spark.sparkContext
        tag = f"crawl-wave-{self.wave_no}"
        had = tag in sc.getJobTags()
        sc.addJobTag(tag)
        try:
            yield
        finally:
            if not had:
                sc.removeJobTag(tag)

    @contextmanager
    def _phase(self, name: str):
        """Describe the jobs of one wave phase as ``wave <n>: <name>``
        (select | domains | classify | neardup | materialize | commit);
        the caller's description is restored afterwards."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"wave {self.wave_no}: {name}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    # ------------------------------------------------------ frame ledger
    def _hold(self, df: DataFrame) -> None:
        """Register a wave frame or a SUPERSEDED checkpoint for release.
        Unreleased, a long crawl's checkpoints pile up in the block manager
        until broadcasts fail. Every checkpoint a wave makes is eager, so
        nothing reads a wave's frames after its commit (_release_frames)."""
        self._frames.append(df)

    def _release_frames(self) -> None:
        """The one release point: free every held frame. Called at the
        end of each wave, after its commit."""
        for df in self._frames:
            _release(df)
        self._frames = []

    def _commit_state(self, deltas: dict[str, DataFrame]) -> None:
        """Commit this wave: a delta commit of its rows per state table
        (``deltas``, O(touched rows)) normally; a full base snapshot of
        every state table for the first commit and every ``COMPACT_EVERY``
        deltas (compaction — Iceberg MOR rewrite)."""
        store = self.store
        if store.latest_wave() is None or store.delta_count() + 1 > COMPACT_EVERY:
            tables = {name: getattr(self, name) for name in TABLES}
            store.commit(self.wave_no, tables, self.metrics)
        else:
            store.commit_delta(self.wave_no, deltas, self.metrics)
