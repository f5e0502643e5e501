"""Anchor-text link graph: extractor capture + operator + fixture drift gate.

The committed resources/crawl_state/links.parquet is the production
``anchor_edges`` operator's output over the fixture crawl's OK pages
(tools/gen_crawl_state.py links_table). Like the frontier fixture, it must
never drift from what the engine + extractor produce today: the drift test
runs links_table over the session's fixture crawl (``engine_frontier``).
"""

import pyarrow.parquet as pq
import pytest

from spacetime_crawler4_spark.functions.htmltext import extract_page
from spacetime_crawler4_spark.operators.linkgraph import (
    anchor_edges,
    anchor_summary,
    anchor_term_index,
    domain_graph,
)
from spacetime_crawler4_spark.queries import _CRAWL_LINKS_PARQUET


def _anchors(html: str, url: str = "http://h.test/p/"):
    return list(extract_page(url, html.encode()).anchors)


class TestCollectorAnchors:
    def test_basic_with_markup_inside(self):
        assert _anchors('<a href="/x">go <b>deep</b> now</a>') == [
            ("http://h.test/x", "go deep now")
        ]

    def test_new_anchor_implicitly_closes_open_one(self):
        got = _anchors('<a href="/x">first <a href="/y">second</a>')
        assert got == [
            ("http://h.test/x", "first"),
            ("http://h.test/y", "second"),
        ]

    def test_anchor_open_at_eof_keeps_text(self):
        assert _anchors('<a href="/x">tail text') == [
            ("http://h.test/x", "tail text")
        ]

    def test_self_closing_anchor_empty_text(self):
        assert _anchors('<a href="/x"/>after') == [("http://h.test/x", "")]

    def test_href_entities_decoded_and_dst_normalized(self):
        got = _anchors('<a href="/x?a=1&amp;b=2#frag">t</a>')
        assert got == [("http://h.test/x?a=1&b=2", "t")]

    def test_script_text_inside_anchor_excluded(self):
        got = _anchors('<a href="/x">vis<script>var hidden;</script>ible</a>')
        assert got == [("http://h.test/x", "vis ible")]

    def test_anchor_without_href_ignored(self):
        assert _anchors("<a name=top>not a link</a>") == []

    def test_bare_href_missing_stays_out_while_stray_end_ignored(self):
        assert _anchors("</a>text<a>more</a>") == []

    def test_text_extraction_untouched_by_anchor_capture(self):
        ex = extract_page(
            "http://h.test/", b'<p>a</p><a href="/x">b</a><p>c</p>'
        )
        assert ex.text == "a\nb\nc"
        assert ex.links == ["http://h.test/x"]


@pytest.fixture(scope="module")
def edges(spark):
    pages = spark.createDataFrame(
        [
            (
                "http://s1.test/",
                b'<a href="/a">home page</a><a href="http://s2.test/a">away</a>'
                b'<a href="/a">home page</a>',
            ),
            ("http://s2.test/", b'<a href="http://s1.test/a">home page</a>'),
            ("http://s3.test/", b"<p>no links</p>"),
        ],
        "url string, html binary",
    )
    return anchor_edges(pages).cache()


class TestOperators:
    def test_edges_rows_and_positions(self, edges):
        rows = {(r.src_url, r.pos): (r.dst_url, r.anchor_text) for r in edges.collect()}
        assert rows[("http://s1.test/", 0)] == ("http://s1.test/a", "home page")
        assert rows[("http://s1.test/", 1)] == ("http://s2.test/a", "away")
        assert rows[("http://s1.test/", 2)] == ("http://s1.test/a", "home page")
        assert len(rows) == 4  # s3 contributes nothing

    def test_summary_modal_anchor_and_degrees(self, edges):
        s = {r.dst_url: r for r in anchor_summary(edges).collect()}
        a = s["http://s1.test/a"]
        assert (a.in_degree, a.n_src_pages, a.n_src_hosts) == (3, 2, 2)
        assert a.top_anchor == "home page"

    def test_summary_tie_breaks_on_text_asc(self, spark):
        e = spark.createDataFrame(
            [("s", "h", 0, "d", "h2", "zeta"), ("s2", "h", 0, "d", "h2", "alpha")],
            "src_url string, src_domain string, pos int, dst_url string,"
            " dst_domain string, anchor_text string",
        )
        assert anchor_summary(e).collect()[0].top_anchor == "alpha"

    def test_domain_graph(self, edges):
        g = {(r.src_domain, r.dst_domain): r for r in domain_graph(edges).collect()}
        assert g[("http://s1.test", "http://s1.test")].n_edges == 2
        assert g[("http://s1.test", "http://s1.test")].n_targets == 1
        assert g[("http://s2.test", "http://s1.test")].n_edges == 1

    def test_term_index_counts_mentions_and_hosts(self, edges):
        t = {(r.dst_url, r.term): r for r in anchor_term_index(edges).collect()}
        home = t[("http://s1.test/a", "home")]
        assert (home.n_mentions, home.n_hosts) == (3, 2)
        assert t[("http://s2.test/a", "away")].n_mentions == 1

    def test_plan_is_arrow_batched(self, edges):
        plan = edges._sc._jvm.PythonSQLUtils.explainString(
            edges._jdf.queryExecution(), "formatted"
        )
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan
        assert "BatchEvalPython" not in plan


def test_committed_links_match_fresh_extraction(spark, corpus_dir, engine_frontier):
    from tools.gen_crawl_state import links_table

    _eng, frontier = engine_frontier
    fresh = links_table(spark, frontier, f"{corpus_dir}/pages.parquet")
    committed = pq.read_table(_CRAWL_LINKS_PARQUET)
    assert committed.column_names == fresh.column_names
    assert committed.num_rows == fresh.num_rows
    for c in fresh.column_names:
        assert committed[c].to_pylist() == fresh[c].to_pylist(), f"column {c} drifted"


def test_links_export_equals_committed_links(
    spark, corpus_dir, engine_frontier, tmp_path
):
    """``--links-out``: the post-crawl export of the fixture crawl's
    admitted pages (status=2, finish=0) writes exactly the committed
    links.parquet rows, the same crawl's anchor_edges output, in
    EDGE_SCHEMA; a second export into the same directory overwrites, so
    the rows stay the same."""
    from spacetime_crawler4_spark.crawl.run import export_links
    from spacetime_crawler4_spark.operators.linkgraph import EDGE_SCHEMA

    _eng, frontier = engine_frontier
    out_dir = str(tmp_path / "edges")
    pages = f"{corpus_dir}/pages.parquet"
    committed = pq.read_table(_CRAWL_LINKS_PARQUET).sort_by(
        [("src_url", "ascending"), ("pos", "ascending")]
    )
    for _ in range(2):
        out = export_links(spark, frontier, pages, out_dir)
        got = spark.read.parquet(out_dir)
        assert got.schema == EDGE_SCHEMA
        rows = [tuple(r) for r in got.orderBy("src_url", "pos").collect()]
        assert out["edges"] == len(rows) == committed.num_rows > 0
        want = list(zip(*[committed[f.name].to_pylist() for f in EDGE_SCHEMA]))
        assert rows == want


class TestNavLineShare:
    """nav_line_share (CETR-style link-density content/chrome split)."""

    def _run(self, spark, pages, edges):
        from spacetime_crawler4_spark.operators.linkgraph import (
            nav_line_share,
        )

        p = spark.createDataFrame(pages, "url string, text string")
        e = spark.createDataFrame(
            edges, "src_url string, anchor_text string"
        )
        return {
            r["url"]: r.asDict() for r in nav_line_share(p, e).collect()
        }

    def test_same_page_match_only(self, spark):
        got = self._run(
            spark,
            [("u1", "home\nreal content here"), ("u2", "home\nother body")],
            [("u1", "home")],  # only u1 links 'home'
        )
        assert got["u1"]["n_nav_lines"] == 1
        assert got["u2"]["n_nav_lines"] == 0  # same text, no anchor on u2
        assert got["u1"]["content_chars"] == len("real content here")

    def test_trim_keyed_and_repeats_counted(self, spark):
        got = self._run(
            spark,
            [("u", "  next  \nnext\nbody line")],
            [("u", "next"), ("u", "next")],  # duplicate anchors collapse
        )
        assert got["u"]["n_lines"] == 3
        assert got["u"]["n_nav_lines"] == 2  # both 'next' variants match
        # chars of nav lines count their ORIGINAL untrimmed lengths
        assert got["u"]["content_chars"] == len("body line")

    def test_blank_anchors_and_blank_lines_ignored(self, spark):
        got = self._run(
            spark,
            [("u", "a\n\n  \nb")],
            [("u", ""), ("u", "   ")],
        )
        assert got["u"]["n_lines"] == 2  # blanks excluded
        assert got["u"]["n_nav_lines"] == 0
        assert got["u"]["nav_char_share"] == 0.0

    def test_share_arithmetic(self, spark):
        got = self._run(
            spark,
            [("u", "nav\ncontent12")],
            [("u", "nav")],
        )
        # 3 nav chars of 12 total
        assert got["u"]["nav_char_share"] == round(3 / 12, 6)


class TestAnchorConcentration:
    def test_entropy_and_shares(self, spark):
        from spacetime_crawler4_spark.operators.linkgraph import (
            anchor_concentration,
        )
        import math

        edges = spark.createDataFrame(
            [
                # spam target: 4 identical anchors -> entropy 0, share 1
                ("s1", "spam", "buy cheap now"),
                ("s2", "spam", "buy cheap now"),
                ("s3", "spam", " buy cheap now "),  # trim folds it in
                ("s4", "spam", "buy cheap now"),
                # organic target: 3 distinct anchors -> entropy ln(3)
                ("s1", "org", "docs"),
                ("s2", "org", "manual"),
                ("s3", "org", "reference"),
                # skewed: counts 2,1 -> H = ln(3) - (2 ln 2)/3
                ("s1", "mix", "a"),
                ("s2", "mix", "a"),
                ("s3", "mix", "b"),
                # below min_inlinks: excluded
                ("s1", "lone", "x"),
            ],
            "src_url string, dst_url string, anchor_text string",
        )
        got = {
            r.dst_url: r
            for r in anchor_concentration(edges, min_inlinks=2).collect()
        }
        assert set(got) == {"spam", "org", "mix"}
        assert got["spam"].n_inlinks == 4
        assert got["spam"].n_anchors == 1
        assert got["spam"].anchor_entropy == pytest.approx(0.0, abs=1e-12)
        assert got["spam"].top_share == pytest.approx(1.0)
        assert got["org"].anchor_entropy == pytest.approx(math.log(3), rel=1e-12)
        assert got["org"].top_share == pytest.approx(1 / 3)
        assert got["mix"].anchor_entropy == pytest.approx(
            math.log(3) - (2 * math.log(2)) / 3, rel=1e-12
        )
        assert got["mix"].top_share == pytest.approx(2 / 3)


class TestCocitation:
    def test_pairs_ordering_cap_and_threshold(self, spark):
        from spacetime_crawler4_spark.operators.linkgraph import (
            cocitation_pairs,
        )

        edges = spark.createDataFrame(
            # s1,s2 both cite a+b; s1,s2,s3 all cite a+c; hub cites
            # everything but exceeds max_out; duplicate edge collapses
            [
                ("s1", "a"), ("s1", "b"), ("s1", "c"), ("s1", "c"),
                ("s2", "a"), ("s2", "b"), ("s2", "c"),
                ("s3", "a"), ("s3", "c"),
                ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
            ],
            "src_url string, dst_url string",
        )
        got = {
            (r.url_a, r.url_b): r.n_common
            for r in cocitation_pairs(edges, max_out=3, min_common=2).collect()
        }
        # hub (out-degree 4 > 3) contributes nothing; pair key is ordered
        assert got == {("a", "b"): 2, ("a", "c"): 3, ("b", "c"): 2}

    def test_min_common_filters(self, spark):
        from spacetime_crawler4_spark.operators.linkgraph import (
            cocitation_pairs,
        )

        edges = spark.createDataFrame(
            [("s1", "a"), ("s1", "b")], "src_url string, dst_url string"
        )
        assert cocitation_pairs(edges, min_common=2).count() == 0
        got = cocitation_pairs(edges, min_common=1).collect()
        assert [(r.url_a, r.url_b, r.n_common) for r in got] == [("a", "b", 1)]


class TestReciprocity:
    def test_shares_and_null_safe_zero(self, spark):
        from spacetime_crawler4_spark.operators.linkgraph import (
            link_reciprocity,
        )

        edges = spark.createDataFrame(
            [
                # hostA: a<->b mutual, a->c one-way (share 1/3... edges
                # from hostA: a->b, a->c, b->a => 3 edges, 2 reciprocated)
                ("a", "hostA", "b"),
                ("b", "hostA", "a"),
                ("a", "hostA", "c"),
                ("a", "hostA", "c"),  # duplicate edge collapses
                # hostB: entirely unreciprocated -> n_recip must be 0,
                # not NULL (sum over all-null input)
                ("x", "hostB", "y"),
            ],
            "src_url string, src_domain string, dst_url string",
        )
        got = {r.src_domain: r for r in link_reciprocity(edges).collect()}
        assert got["hostA"].n_edges == 3
        assert got["hostA"].n_recip == 2
        assert got["hostA"].recip_share == pytest.approx(round(2 / 3, 6))
        assert got["hostB"].n_edges == 1
        assert got["hostB"].n_recip == 0
        assert got["hostB"].recip_share == 0.0
