"""Frontier priority-queue policies (north-rule component: "URL-frontier +
fetch scheduler (… priority queue)").

Under politeness budgets the frontier is a bounded scheduler; the policy
is the priority function it pops by (CrawlConfig.frontier_policy):
fifo = reference discovery order, shallow/deep = depth best-first,
domain_rank = host-authority-first from a (domain, rank) parquet — the
crawl_state_host_rank / linkgraph output shape.

Contract checked here:
1. engine == wave-mode oracle EXACTLY (row state + visit order) under
   every policy — the same parity bar the fifo crawl meets;
2. the policies genuinely reorder selection (deep ≠ shallow ≠ fifo);
3. with no budgets every policy crawls identically (selection is
   everything, so priority is immaterial by construction).
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import FINISH, STATUS, CrawlConfig
from spacetime_crawler4_spark.crawl.seqoracle import SeqCrawler
from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS

CFG = dict(whitelist=FIXTURE_WHITELIST)
# tight enough that both the per-domain top-B and the global cut bind
BUDGET = dict(wave_seconds=10.0, default_delay=0.5, global_budget=25)


def _engine_state(frontier):
    return {r["urlhash"]: r.asDict() for r in frontier.collect()}


def _compare_states(eng, ora):
    assert eng.keys() == ora.keys(), (
        f"seen-set differs: engine-only={list(set(eng) - set(ora))[:5]} "
        f"oracle-only={list(set(ora) - set(eng))[:5]}"
    )
    for h in sorted(eng):
        e, o = dict(eng[h]), dict(ora[h])
        e["words"] = dict(e["words"] or {})
        assert e == o, f"row differs for {o['url']}:\n engine={e}\n oracle={o}"


def _processed_order(state):
    done = [
        v
        for v in state.values()
        if v["status"] != STATUS.NO_DOWN or v["finish"] == FINISH.SIFTED
    ]
    return [v["url"] for v in sorted(done, key=lambda v: (v["gen"], v["seq"]))]


def _rank_table(path: str) -> str:
    pq.write_table(
        pa.table(
            {
                # mega gets the HIGHEST authority, the www.example-a seed
                # host the lowest — inverts the fifo seed order
                "domain": [
                    "http://mega.example-a.test",
                    "http://www.example-b.test",
                    "http://deep.example-a.test",
                    "http://www.example-a.test",
                ],
                "rank": [9.5, 3.25, 1.5, 0.25],
            }
        ),
        path,
    )
    return path


def _oracle(corpus_dir, cfg) -> SeqCrawler:
    c = SeqCrawler(
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        cfg,
        mode="wave",
    )
    c.run()
    return c


@pytest.mark.parametrize("policy", ["shallow", "deep", "domain_rank"])
def test_engine_matches_wave_oracle_under_policy(
    spark, corpus_dir, tmp_path, policy
):
    table = (
        _rank_table(str(tmp_path / "ranks.parquet"))
        if policy == "domain_rank"
        else None
    )
    cfg = CrawlConfig(
        frontier_policy=policy, priority_table=table, **BUDGET, **CFG
    )
    ora = _oracle(corpus_dir, cfg)
    eng = CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        cfg,
    )
    estate = _engine_state(eng.run())
    _compare_states(estate, ora.state())
    assert _processed_order(estate) == [u for _, _, u in ora.ordered_visits()]


def test_policies_genuinely_reorder(corpus_dir, tmp_path):
    """The scheduling policy is load-bearing: under the same budgets the
    per-wave selections differ across policies (oracle-level — the engine
    equals the oracle per policy above)."""
    orders = {}
    for policy in ["fifo", "shallow", "deep", "domain_rank"]:
        table = (
            _rank_table(str(tmp_path / "ranks.parquet"))
            if policy == "domain_rank"
            else None
        )
        cfg = CrawlConfig(
            frontier_policy=policy, priority_table=table, **BUDGET, **CFG
        )
        # raw visit_log = actual processing order (ordered_visits sorts by
        # the DISCOVERY key, which is policy-invariant by design)
        orders[policy] = [u for _, _, u in _oracle(corpus_dir, cfg).visit_log]
    assert orders["deep"] != orders["fifo"]
    assert orders["shallow"] != orders["deep"]
    assert orders["domain_rank"] != orders["fifo"]
    # every policy still crawls the same reachable set eventually — the
    # priority reorders work, it must not lose or invent URLs
    assert {u for u in orders["fifo"]} == {u for u in orders["deep"]}
    assert {u for u in orders["fifo"]} == {u for u in orders["domain_rank"]}


def test_policy_noop_without_budgets(corpus_dir):
    """No budgets ⇒ a wave selects every pending row, so the policy can't
    change anything (and the engine short-circuits selection entirely)."""
    base = _oracle(corpus_dir, CrawlConfig(**CFG)).state()
    deep = _oracle(
        corpus_dir, CrawlConfig(frontier_policy="deep", **CFG)
    ).state()
    assert base == deep


def test_domain_rank_pops_authority_first(corpus_dir, tmp_path):
    """global_budget=1: the first wave must pick the seed of the highest-
    ranked domain, not the fifo-first seed."""
    table = _rank_table(str(tmp_path / "ranks.parquet"))
    cfg = CrawlConfig(
        frontier_policy="domain_rank",
        priority_table=table,
        global_budget=1,
        max_waves=3,
        **CFG,
    )
    visits = _oracle(corpus_dir, cfg).visit_log  # processing order
    assert visits[0][2] == "http://mega.example-a.test/hub"


def test_unknown_policy_refused(corpus_dir, spark):
    cfg = CrawlConfig(frontier_policy="lifo", global_budget=5, **CFG)
    eng = CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        cfg,
    )
    with pytest.raises(ValueError, match="frontier_policy"):
        eng.run()


def test_domain_rank_requires_table(corpus_dir):
    with pytest.raises(ValueError, match="priority_table"):
        SeqCrawler(
            f"{corpus_dir}/pages.parquet",
            f"{corpus_dir}/robots.parquet",
            [],
            CrawlConfig(frontier_policy="domain_rank", **CFG),
        )


def test_budget_allocation_output_feeds_domain_rank_policy(
    spark, corpus_dir, tmp_path
):
    """The mining->scheduling loop closes: q_crawl_budget_allocation's
    parquet (authority x dup-penalty x error-penalty over the committed
    crawl state) IS a valid priority_table, and with global_budget=1 the
    scheduler pops the highest-budget domain's seed first (the
    www.example-a seed: top authority after mega's rank is zeroed by its
    absent cross-host inlinks)."""
    from spacetime_crawler4_spark.queries import q_crawl_budget_allocation

    out = str(tmp_path / "budget.parquet")
    q_crawl_budget_allocation(spark, "unused").write.mode("overwrite").parquet(
        out
    )
    cfg = CrawlConfig(
        frontier_policy="domain_rank",
        priority_table=out,
        global_budget=1,
        max_waves=2,
        **CFG,
    )
    visits = _oracle(corpus_dir, cfg).visit_log
    assert visits[0][2] == "http://www.example-a.test"
