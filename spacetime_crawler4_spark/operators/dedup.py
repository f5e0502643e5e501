"""Deduplication operators for large-scale text corpora.

All of these are pure DataFrame compositions (JVM built-ins, no Python on
the hot path) except ``simhash_docs``, which deliberately reuses the
reference-parity simhash UDF (reference helpers/simhash.py:5-28).

Scale notes (the whole point of these formulations):
- exact dedup       one hash-shuffle on a 16-byte key, map-side partial agg
- shingling         explode is map-side only; ``array_distinct`` before
                    explode keeps the shuffle volume at distinct-shingle
                    cardinality
- MinHash+LSH       k min-aggregations over one shingle pass; the band
                    self-join touches only colliding (band, sig) buckets —
                    O(candidates), never O(n²)
- n-gram Jaccard    the shingle equi-join enumerates only pairs sharing a
                    shingle; a length/prefix filter could bound it further
- near-dup verify   exact Jaccard only on LSH candidates
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sql_tokens(text: Column) -> Column:
    """Lowercased word array — the SQL-expressible tokenizer used by the
    corpus-analytics plane (the reference-parity tokenizer lives in the UDF
    plane; this one is shared verbatim with the DuckDB oracles)."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9']+"), lambda x: x != "")


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct word n-grams per document. JVM-only.

    Built as n-1 chained ``zip_with`` passes over shifted ``slice``s of the
    token array — strictly linear per document. (The tempting
    ``transform(sequence(...), i -> element_at(toks, i+j))`` form is
    quadratic after Catalyst's CollapseProject inlines the tokenizer split
    into every element_at — measured 10× slower at 5k docs.)"""
    toks = sql_tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate buckets by content hash: (bucket, n_members, master_id).

    Master = lowest id (deterministic election; in the crawl engine the same
    window runs over (gen, seq) — SURVEY.md §2.5 W2). Only buckets with >1
    member are returned. One shuffle on the hash key.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("bucket"), F.col(id_col).alias("id"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_members"), F.min("id").alias("master_id"))
        .filter(F.col("n_members") > 1)
    )


def jaccard_pairs(
    sh: DataFrame,
    *,
    min_jaccard: float | None = None,
    top_k: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise word-shingle Jaccard: (id_a, id_b, jaccard) with id_a < id_b.

    ``sh`` is a (id, shingle) distinct-shingle frame. The equi-join on
    shingle enumerates only co-occurring pairs. Either threshold by
    ``min_jaccard`` or return the global ``top_k`` (ordered desc, then ids).

    ``max_df`` bounds the join: a shingle in d documents contributes
    d·(d-1)/2 pair rows, so head shingles make the co-occurrence join
    quadratic at corpus scale. Dropping shingles with doc-frequency above
    ``max_df`` (standard df-capping) caps every bucket at
    max_df·(max_df-1)/2 — the join input is then linear in the corpus.
    Sizes and intersections are both computed on the capped shingle set,
    so the jaccard stays a true Jaccard of the capped sets.
    """
    if max_df is not None:
        # df via a count window, not groupBy+semi-join: the window's hash
        # partitioning on shingle is exactly what the pair equi-join needs,
        # so Catalyst reuses the Exchange instead of shuffling sh twice
        # (measured 2.2x at sf0.1). Window state is one count per shingle
        # and spills through UnsafeExternalSorter on pathological buckets.
        sh = (
            sh.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    if top_k is not None:
        out = out.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(top_k)
    return out


def minhash_signatures(sh: DataFrame, k: int = 8) -> DataFrame:
    """(id, band, sig): k independent MinHash values per document.

    Hash family: ``md5(band || ':' || shingle)`` — deterministic, portable
    (the DuckDB oracle computes the identical family), uniform enough for
    dedup. ONE shuffle on id with map-side partial agg: all k minimums are
    k aggregate expressions over one pass of the shingles — the tempting
    explode×k formulation ships k copies of every shingle row through the
    shuffle and then shuffles again per (id, band)."""
    wide = sh.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(b)), F.col("shingle")))
            ).alias(f"_m{b}")
            for b in range(k)
        ]
    )
    sigs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"_m{b}").alias("sig"))
            for b in range(k)
        ]
    )
    return wide.select("id", F.explode(sigs).alias("s")).select(
        "id", "s.band", "s.sig"
    )


def minhash_band_sigs(sh: DataFrame, k: int = 8, r: int = 2) -> DataFrame:
    """(id, band_id, bsig): banded AND/OR MinHash signatures — each band
    signature hashes ``r`` consecutive minhash values, so two docs collide
    on a band with probability J^r. With b = k/r bands,
    P(candidate) = 1-(1-J^r)^b: steep around the dedup threshold, tiny for
    background similarity — this is what keeps candidate volume linear on
    corpora where *everything* is mildly similar.

    Built on the wide one-pass signature aggregate: banding is a pure
    projection (zero extra shuffles — round 1 shuffled a second time on
    (id, band_id) to collect each band's sigs)."""
    wide = sh.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(b)), F.col("shingle")))
            ).alias(f"_m{b}")
            for b in range(k)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"_m{bi * r + j}") for j in range(r)]
                    )
                ).alias("bsig"),
            )
            for bi in range(k // r)
        ]
    )
    return wide.select("id", F.explode(bands).alias("b")).select(
        "id", "b.band_id", "b.bsig"
    )


def minhash_lsh_pairs(
    sh: DataFrame, k: int = 8, r: int = 2, min_jaccard: float = 0.5
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard.

    k=8 hashes in 4 bands of 2: P(candidate) = 1-(1-J²)⁴ — ≈0.999 at
    J=0.9, ≈0.04 at J=0.1. Precision is 1.0 by construction (exact verify);
    only recall depends on (k, r). Scale: the self-join touches only
    colliding (band_id, bsig) buckets, and the exact-Jaccard verify runs
    ONLY on candidate pairs (shingles joined through the candidate list),
    never on the full co-occurrence graph.

    The shingle frame is consumed FIVE times in this plan (both band
    self-join sides, the size aggregate, both verify sides), so it and
    the band signatures are materialized once up front (VERDICT r3 #6:
    the composed admission pipeline was recomputing the explode+minhash
    stage per reference). On a cluster this is persist(DISK_ONLY) or a
    staging table; the re-evaluation it avoids grows with corpus size."""
    sh = sh.localCheckpoint(eager=True)
    bands = minhash_band_sigs(sh, k, r).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sha, shb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sha, cand.id_a == F.col("sa.id"))
        .join(
            shb,
            (cand.id_b == F.col("sb.id")) & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


OPH_HEX = 12  # 48-bit hash space, same md5-prefix contract as KMV/HLL
OPH_C = 16 ** OPH_HEX  # densification rotation offset (2^48)


def oph_densified_mins(sh: DataFrame, k: int = 8) -> DataFrame:
    """One-permutation MinHash (Li, Owen & Zhang NIPS'12) with rotation
    densification (Shrivastava & Li ICML'14): ONE 48-bit md5 hash per
    shingle, partitioned into k buckets by h mod k; the per-bucket
    minimum is the signature slot, and an EMPTY bucket borrows the next
    non-empty bucket's value circularly, offset by t*C per step so
    borrowed slots collide only with identically-borrowed slots.

    Output: (id, _v0.._v{k-1}) wide frame of densified BIGINT slots.

    Why it exists next to ``minhash_signatures``: the classic k-hash
    family computes k md5 digests PER SHINGLE (k× the hash work and k
    aggregate expressions scanning every row); OPH computes ONE digest
    and still yields k signature slots with the same collision law in
    expectation. At 100-TB shingle volume the hash stage is the
    dominant map-side cost, so this is the production signature path;
    the k-hash twin stays as the audited reference plane. All
    arithmetic is integer-exact (BIGINT min / + / %), hence the DuckDB
    oracle reproduces signatures bit-for-bit."""
    h = F.conv(
        F.substring(F.md5(F.col("shingle").cast("string")), 1, OPH_HEX), 16, 10
    ).cast("long")
    # project the digest ONCE before the aggregate: embedding `h` inside
    # each of the k min/when expressions would leave k copies of the md5
    # in the aggregate (Catalyst does not CSE across aggregate exprs),
    # silently reverting to k-digest cost — the very thing OPH removes
    hashed = sh.select("id", h.alias("_h"))
    wide = hashed.groupBy("id").agg(
        *[
            F.min(F.when(F.col("_h") % k == j, F.col("_h"))).alias(f"_m{j}")
            for j in range(k)
        ]
    )
    dens = [
        F.coalesce(
            *[
                F.col(f"_m{(j + t) % k}") + F.lit(t * OPH_C).cast("long")
                for t in range(k)
            ]
        ).alias(f"_v{j}")
        for j in range(k)
    ]
    return wide.select("id", *dens)


def oph_band_sigs(sh: DataFrame, k: int = 8, r: int = 2) -> DataFrame:
    """(id, band_id, bsig) — banded AND/OR signatures over the densified
    OPH slots (same banding law as ``minhash_band_sigs``; banding is a
    pure projection over the one-pass wide aggregate)."""
    wide = oph_densified_mins(sh, k)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"_v{bi * r + j}") for j in range(r)]
                    )
                ).alias("bsig"),
            )
            for bi in range(k // r)
        ]
    )
    return wide.select("id", F.explode(bands).alias("b")).select(
        "id", "b.band_id", "b.bsig"
    )


def oph_lsh_pairs(
    sh: DataFrame, k: int = 8, r: int = 2, min_jaccard: float = 0.5
) -> DataFrame:
    """OPH-banded candidate pairs verified by exact Jaccard — the
    one-hash-pass production twin of ``minhash_lsh_pairs`` (identical
    downstream plan: bucket self-join on (band_id, bsig), exact verify
    restricted to candidates, broadcast size join)."""
    sh = sh.localCheckpoint(eager=True)
    bands = oph_band_sigs(sh, k, r).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sha, shb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sha, cand.id_a == F.col("sa.id"))
        .join(
            shb,
            (cand.id_b == F.col("sb.id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ppjoin_pairs(sh: DataFrame, t: float = 0.5) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Bayardo et
    al. WWW'07 All-Pairs; Xiao et al. WWW'08 PPJoin): all pairs with
    Jaccard >= ``t``, recall 1.0 BY CONSTRUCTION — the exact complement
    of the MinHash/OPH LSH plane (which trades recall for candidate
    volume) and of the df-capped co-occurrence join (which silently
    drops head-shingle pairs).

    The filtering lemma: order each doc's shingles by a global
    canonical order (ascending document frequency, rarest first, ties
    by shingle); with prefix length |x| - ceil(t*|x|) + 1, any two sets
    with J >= t MUST share a prefix token — so the equi-join touches
    only prefix rows (the rarest shingles, hence the smallest join
    buckets), and exact verification runs only on candidates. Cost:
    one df aggregate, one rank window, a prefix equi-join bounded by
    rare-token bucket sizes, and the candidate-restricted verify — no
    quadratic stage, no recall loss. ceil(t*n) with t=0.5 is
    engine-exact (halves), keeping prefixes identical in the oracle.

    The shingle frame feeds five consumers (df, rank, sizes, both
    verify sides), so it and the prefix rows materialize once (the
    minhash_lsh_pairs discipline); the candidate join also applies the
    LENGTH filter (J >= t forces min(|x|,|y|) >= t*max(|x|,|y|)), which
    prunes size-incompatible collisions before the distinct+verify."""
    from pyspark.sql.window import Window

    sh = sh.localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy("_df", "shingle")
            ),
        )
        .withColumn("_sz", F.count("*").over(Window.partitionBy("id")))
    )
    prefix = (
        ranked.filter(
            F.col("_pos") <= F.col("_sz") - F.ceil(F.lit(t) * F.col("_sz")) + 1
        )
        .select("id", "shingle", "_sz")
        .localCheckpoint(eager=True)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a._sz"), F.col("b._sz"))
                >= F.lit(t) * F.greatest(F.col("a._sz"), F.col("b._sz"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sha, shb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sha, cand.id_a == F.col("sa.id"))
        .join(
            shb,
            (cand.id_b == F.col("sb.id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


def lsh_onepass_removals(bands: DataFrame) -> DataFrame:
    """Single-round LSH dedup election: (id, master) for every document
    that shares ANY band bucket with a lower id — no iterative
    connected-components closure. ``master`` is the smallest such
    bucket-minimum (deterministic).

    The 100-TB admission fast path: the CC election
    (``connected_components``) is exact but costs O(log n) shuffle
    rounds over the pair graph; this is ONE groupBy + ONE join. The
    trade: a chain a~b~c (where a,c never share a bucket) removes both
    b and c here with master a and b respectively — same removal SET as
    CC whenever every cluster is bucket-connected through its minimum,
    which near-dup families overwhelmingly are (banding puts true
    near-dups in shared buckets directly). Admission pipelines that
    only need keep/remove — not cluster identity — take this path."""
    mins = bands.groupBy("band_id", "bsig").agg(F.min("id").alias("bmin"))
    return (
        bands.join(mins, ["band_id", "bsig"])
        .filter(F.col("bmin") < F.col("id"))
        .groupBy("id")
        .agg(F.min("bmin").alias("master"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, cluster_id): connected components over an undirected pair list.

    This is the step that turns near-dup *pairs* (minhash/simhash/embedding
    LSH output) into the actual keep/drop decision a corpus pipeline needs:
    every member of a component shares ``cluster_id`` = the minimum doc id
    in the component (the canonical keep-one master). Only ids that appear
    in at least one pair are returned — singletons are trivially their own
    master and never shuffle.

    Algorithm: min-label propagation with POINTER JUMPING (label(v) :=
    label(label(v)) each round), the standard O(log n)-round MapReduce CC
    formulation (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — same doubling trick as the crawl engine's dup
    election, crawl/engine.py `distributed_election`). Per round: one
    equi-join against the (deduplicated, symmetric) edge list + one
    self-join for the jump, each a hash shuffle on id; lineage is cut with
    an eager localCheckpoint so round k+1's plan does not replay round k.
    Driver state per round: one changed-row count. A path graph of n nodes
    converges in ~log2(n) rounds; dup clusters (dense, tiny diameter)
    converge in 1-2.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # initial label: min(self, min neighbor) — one shuffle on src
    lab = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("id"), F.least("src", F.col("_nbr")).alias("cluster_id")
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        # propagate: label(v) := min(label(v), min over neighbors of label(u))
        nbr = (
            edges.join(lab, edges.dst == lab.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nl"))
        )
        prop = (
            lab.join(nbr, lab.id == nbr.src, "left")
            .select(
                "id",
                F.least("cluster_id", F.coalesce("_nl", "cluster_id")).alias(
                    "cluster_id"
                ),
            )
        )
        # pointer jump: label(v) := label(label(v)) — collapses chains
        x, y = prop.alias("x"), prop.alias("y")
        nxt = (
            x.join(y, F.col("x.cluster_id") == F.col("y.id"), "left")
            .select(
                F.col("x.id").alias("id"),
                F.coalesce(F.col("y.cluster_id"), F.col("x.cluster_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.alias("n")
            .join(lab.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        lab = nxt
        if changed == 0:
            break
    return lab


def dup_cluster_stats(components: DataFrame) -> DataFrame:
    """(cluster_id, n_members, n_dropped): per-cluster keep-one summary over
    ``connected_components`` output. n_dropped = members minus the master —
    the rows a dedup pipeline would delete. One shuffle."""
    return (
        components.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .select(
            "cluster_id",
            "n_members",
            (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        )
    )


def simhash_docs(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, smhash, smhash_str): simhash per doc over the reference
    tokenizer + crc64 hash family (helpers/simhash.py:5-28,
    helpers/tokenize.py:35-137).

    bits=32 is the reference-parity fingerprint; bits=64 is the production
    plane (full crc64 lanes — same vote rule) whose pair density stays
    sane at corpus scale. The DuckDB oracle reproduces both by joining
    tokens against the crc64 word-hash dictionary and re-running the
    bit-vote sum in SQL (queries.py)."""
    from spacetime_crawler4_spark.operators.textplane import (
        simhash64_udf,
        simhash_udf,
        token_features_udf,
    )

    if bits == 32:
        udf, width = simhash_udf, 32
    elif bits == 64:
        udf, width = simhash64_udf, 64
    else:
        raise ValueError(f"bits must be 32 or 64, got {bits}")
    out = df.select(
        F.col(id_col).alias("id"), token_features_udf(F.col(text_col)).alias("tok")
    ).select("id", udf(F.col("tok.words")).alias("smhash"))
    # display form: unsigned binary, MSB first, fixed width (F.bin renders
    # the two's-complement 64-bit pattern, so negative 64-bit packs render
    # as their full unsigned bit string)
    return out.withColumn("smhash_str", F.lpad(F.bin(F.col("smhash")), width, "0"))


def simhash_near_pairs(sim: DataFrame, threshold: int = 5, bits: int = 32) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(smhash) <= threshold via
    banded LSH (pigeonhole: threshold+1 bands ⇒ any pair within threshold
    collides on ≥1 band) + exact ``bit_count`` verify. Never O(n²)."""
    nbands = threshold + 1
    width = (bits + nbands - 1) // nbands
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("smhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                )
                for i in range(nbands)
            ]
        )
    ).alias("b")
    banded = sim.select("id", "smhash", bands).select("id", "smhash", "b.band", "b.val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.smhash").bitwiseXOR(F.col("b.smhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= threshold)
    )


def word_windows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, whash) — EVERY sliding word n-gram with its 1-based
    position (non-distinct, unlike ``word_shingles``): the primitive for
    exact-substring span dedup. Built with the same linear chained
    ``zip_with``-over-shifted-``slice`` construction; whash is md5 of the
    gram text so the column shuffled downstream is a fixed-width hash,
    not the gram itself."""
    toks = sql_tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    ).select("id", (F.col("pos") + 1).alias("pos"), F.md5("gram").alias("whash"))


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Exact-substring duplication report per document (the relational
    form of Lee et al. 2022's suffix-array substring dedup, at window
    width ``n`` words): a window is *duplicated* when its hash occurs >= 2
    times corpus-wide (cross-doc or a within-doc repeat); consecutive
    duplicated positions merge into maximal spans (span of k windows =
    k + n - 1 duplicated words).

    Returns (id, n_spans, dup_words, n_words, dup_frac) for documents
    with at least one duplicated span.

    Scale shape: one shuffle keyed on whash for the occurrence count
    (map-side combine; the join back is hash-to-hash), one window keyed
    on id for span merging — both linear in total corpus words. The
    run-length trick (pos - row_number = span group) keeps span merging
    a single window pass, no self-join.
    """
    w = word_windows(df, id_col, text_col, n)
    occ = w.groupBy("whash").agg(F.count("*").alias("occ"))
    dup_pos = (
        w.join(occ.filter(F.col("occ") >= 2), "whash")
        .select("id", "pos")
    )
    win = Window.partitionBy("id").orderBy("pos")
    spans = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(win))
        .groupBy("id", "grp")
        .agg((F.count("*") + F.lit(n - 1)).alias("span_words"))
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.size(sql_tokens(F.col(text_col))).alias("n_words"),
    )
    return (
        spans.groupBy("id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("span_words").alias("dup_words"),
        )
        .join(words, "id")
        .select(
            "id",
            "n_spans",
            "dup_words",
            "n_words",
            F.round(F.col("dup_words") / F.col("n_words"), 6).alias("dup_frac"),
        )
    )


def containment_pairs(
    sh: DataFrame,
    *,
    min_containment: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997): for co-occurring
    pairs, C(A in B) = |A∩B| / |A| and C(B in A) = |A∩B| / |B|. Catches
    the near-dup family Jaccard misses — a short document swallowed
    whole by a longer one (boilerplate wrappers, quote inflation) has
    tiny Jaccard but containment ~1.

    Returns (id_a, id_b, cont_small, jaccard) with id_a < id_b where
    cont_small = containment of the SMALLER set in the larger (the
    direction that detects engulfment), filtered at ``min_containment``.

    Same scale shape as ``jaccard_pairs``: df-capped shingle equi-join
    (linear input after the cap), sizes broadcast back onto the pair
    aggregate.
    """
    if max_df is not None:
        sh = (
            sh.withColumn(
                "_df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ).alias("cont_small"),
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("cont_small") >= min_containment)
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Exact-substring dedup TRANSFORM (the removal half of Lee et al.
    2022, to ``duplicated_span_stats``'s report half): every duplicated
    word-``n``-gram occurrence except the globally FIRST (ordered by
    (id, pos)) is removed from the text; kept tokens are re-joined in
    order.

    Returns (id, n_words, kept_words, cleaned) — cleaned is the
    surviving token sequence.

    Scale shape, all relational: ONE shuffle on whash for the global
    first-occurrence rank (row_number over the window-hash), ONE per-doc
    window pass where a ROWS n-1 PRECEDING running max turns dup-start
    flags into covered-token coverage (token positions are dense, so the
    frame is exact span coverage), and ONE per-doc ordered re-aggregate.
    Linear in corpus words end to end — the suffix array the paper
    builds is replaced by hash-rank + window arithmetic.
    """
    w = word_windows(df, id_col, text_col, n)
    rk = F.row_number().over(Window.partitionBy("whash").orderBy("id", "pos"))
    dup_starts = (
        w.withColumn("rk", rk)
        .filter(F.col("rk") > 1)
        .select("id", F.col("pos").alias("tpos"), F.lit(1).alias("dup_start"))
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(sql_tokens(F.col(text_col))).alias("p0", "token"),
    ).select("id", (F.col("p0") + 1).alias("tpos"), "token")
    cover_win = (
        Window.partitionBy("id")
        .orderBy("tpos")
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    flagged = toks.join(dup_starts, ["id", "tpos"], "left").select(
        "id",
        "tpos",
        "token",
        F.max(F.coalesce(F.col("dup_start"), F.lit(0)))
        .over(cover_win)
        .alias("covered"),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.lit(1) - F.col("covered")).alias("kept_words"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("covered") == 0,
                                F.struct("tpos", "token"),
                            )
                        )
                    ),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )


def line_occurrences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, line, lkey) — one row per newline-separated line of every
    document, in document order. ``lkey`` is the dedup key: md5 of the
    whitespace-trimmed line, NULL for blank lines (blank lines never
    participate in cross-document dedup; they are always kept).

    The line is the natural dedup unit for extracted web text: the
    production extractor serializes pages as ``"\\n".join(fragments)``
    (functions/htmltext.py), so one line == one visible-text fragment —
    exactly the boilerplate granularity (nav links, cookie banners,
    footers) CCNet/FineWeb-style line dedup targets.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "lkey",
        F.when(F.trim(F.col("line")) != "", F.md5(F.trim(F.col("line")))),
    )


def dup_line_stats(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2
) -> DataFrame:
    """Boilerplate mining: every trimmed line occurring in >= ``min_docs``
    DISTINCT documents, with its document count, total occurrence count,
    and first occurrence (lexicographic (id, pos)).

    Scale shape: one explode (map-only) + ONE aggregate keyed on the
    line hash (Catalyst picks SortAggregate for the struct-min, still
    with map-side partial aggregation) — the shuffle carries at most one
    row per (partition, distinct line, doc). No windows: the global
    first occurrence is a min(struct) inside the same aggregate, so a
    universally duplicated line ("Home") costs one combiner row per
    partition, never a single-reducer window partition.
    """
    occ = line_occurrences(df, id_col, text_col).filter(
        F.col("lkey").isNotNull()
    )
    return (
        occ.groupBy("lkey")
        .agg(
            F.min(F.trim(F.col("line"))).alias("line"),
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min(F.struct("id", "pos")).alias("first"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "line",
            "n_docs",
            "n_occ",
            F.col("first.id").alias("first_id"),
            F.col("first.pos").alias("first_pos"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "line")
    )


def line_dedup(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2
) -> DataFrame:
    """Cross-document line dedup (CCNet §3.1 / FineWeb line filtering):
    a line occurrence is KEPT iff it is blank, OR its trimmed form occurs
    in fewer than ``min_docs`` distinct documents, OR it is the globally
    FIRST occurrence of that form (lexicographic (id, pos)) — every later
    occurrence, including same-document repeats of a cross-document
    duplicate, is dropped. Surviving lines re-join in original order.

    Returns (id, n_lines, n_kept, n_dropped, cleaned) — cleaned is the
    newline re-joined surviving text (trailing/leading blank lines
    preserved as-is; only duplicated non-blank lines disappear).

    Scale shape: explode (map) -> ONE aggregate on lkey (doc counts +
    min(struct) first occurrence, map-side partial agg, no windows) ->
    broadcast-or-shuffle hash join of the duplicated-key side back onto
    occurrences (the join side carries ONLY keys with n_docs >= min_docs,
    i.e. the boilerplate dictionary, typically orders of magnitude
    smaller than the corpus) -> ONE per-doc re-aggregate. Linear end to
    end; skewed boilerplate keys stay inside hash aggregates where
    map-side combining flattens them.
    """
    occ = line_occurrences(df, id_col, text_col)
    dup_keys = (
        occ.filter(F.col("lkey").isNotNull())
        .groupBy("lkey")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.min(F.struct("id", "pos")).alias("first"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("lkey", "first")
    )
    flagged = occ.join(dup_keys, "lkey", "left").select(
        "id",
        "pos",
        "line",
        (
            F.col("first").isNull()
            | ((F.col("first.id") == F.col("id")) & (F.col("first.pos") == F.col("pos")))
        ).alias("keep"),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("cleaned"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 50,
    min_cos: float = 0.3,
) -> DataFrame:
    """Sparse tf-idf cosine near-dup pairs — the TERM-vector twin of
    embedding_near_pairs (reference has no ranking plane at all; this is
    the all-pairs-similarity-search shape of Bayardo et al., WWW'07
    "Scaling Up All Pairs Similarity Search", reduced to its df-capped
    core).

    The vector space is defined over terms with document frequency
    <= ``max_df`` ONLY (high-df terms carry negligible idf weight and
    quadratic join fan-out; dropping them from the SPACE — not just the
    join — keeps norms, dots and therefore cosines exact within the
    capped space, the same df-cap contract as ``word_shingles``).
    Weights are tf * ln(1 + N/df) in double; cosine is rounded to 6
    places like every similarity plane here.

    Returns (id_a, id_b, cos) with id_a < id_b and cos >= ``min_cos``.

    Scale shape: tf/df are two partial-aggregated groupBys; the pair
    stage is a posting-list self-join keyed on term, bounded by
    max_df²/2 candidates per term — never corpus²; norms join back by
    id (broadcastable per-doc table at audit scale, hash join at 100 TB).
    """
    tf = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(sql_tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n_docs = docs.select(
        F.countDistinct(F.col(id_col)).cast("double").alias("_n")
    )
    df = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
    )
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.col("tf") * F.log(F.lit(1.0) + F.col("_n") / F.col("df"))).alias("w"),
        )
    )
    # the weight frame feeds BOTH pair-join sides and the norm aggregate;
    # without a materialization Catalyst re-runs the tokenize+tf+df subtree
    # three times (the same shared-stage rule as connected_components'
    # edge list — at corpus scale this is a persisted/bucketed table)
    w = w.localCheckpoint(eager=True)
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("id").alias("id_b"), F.col("term").alias("term_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, (a.term == b.term_b) & (a.id_a < b.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 32,
    base: int = 257,
    mod: int = 2_147_483_647,
) -> DataFrame:
    """Content-defined chunking dedup estimate (the rsync/LBFS/FastCDC
    family): a chunk boundary falls AFTER every position whose char
    ``k``-gram Karp–Rabin hash ≡ 0 (mod ``divisor``) — boundaries are
    decided by CONTENT, so an insertion early in a page shifts only the
    chunk it lands in, and every repeated region re-aligns to identical
    chunks (byte-shift-robust, where fixed-size blocks are not). Expected
    chunk length ≈ ``divisor`` chars.

    Returns ONE corpus-level storage ledger row:
    (n_chunks, n_unique_chunks, total_chars, unique_chars, dedup_ratio)
    — dedup_ratio = unique/total chars, the content-addressable-store
    size a chunk-level dedup achieves on this corpus.

    Scale shape: the rolling hash is per-position STATEFUL work — exactly
    the case Catalyst higher-order functions cannot express without a
    per-position substr/split/fold expression (the previous all-JVM
    formulation measured ~21 µs/char at sf0.1: O(len·k) with a string
    allocation per position — 213 s where this runs in ~3 s). It is now
    a numpy-vectorized Arrow ``mapInPandas`` stage: codepoints via one
    utf-32 reinterpret, the k-gram hash as k shifted multiply-adds over
    the whole array, boundaries via one modulo compare — O(len) with
    C-speed constants. Each Arrow batch emits BATCH-COMBINED partials
    (ck, occ, clen) — map-side combine in the UDF — so the only shuffle
    is the distinct-chunk aggregate keyed on the 16-byte chunk md5,
    at distinct-chunk (not occurrence) cardinality per batch.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    # lowercase JVM-side so the UDF sees exactly what the DuckDB oracle's
    # lower() sees (python str.lower diverges on a few unicode points)
    src = docs.filter(F.length(text_col) > 0).select(
        F.lower(F.col(text_col)).alias("txt")
    )
    # 257^j mod m for the vectorized k-term dot product; code*pows[j]
    # < 2^21 * 2^31 = 2^52, and k=8 such terms stay < 2^55 in int64
    pows = [pow(base, j, mod) for j in range(k)]

    def _chunks(batches):
        for pdf in batches:
            counts: dict[str, int] = {}
            lens: dict[str, int] = {}
            for txt in pdf["txt"]:
                codes = np.frombuffer(
                    txt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(codes)
                if n >= k:
                    h = np.zeros(n - k + 1, dtype=np.int64)
                    for j in range(k):
                        h += codes[j : n - k + 1 + j] * pows[k - 1 - j]
                        h %= mod
                    # 1-based END offsets of boundary grams
                    ends = np.flatnonzero(h % divisor == 0) + k
                    cuts = np.unique(np.concatenate(([0], ends, [n])))
                else:
                    cuts = np.array([0, n])
                for a, b in zip(cuts[:-1], cuts[1:]):
                    ck = hashlib.md5(txt[a:b].encode("utf-8")).hexdigest()
                    counts[ck] = counts.get(ck, 0) + 1
                    lens[ck] = int(b - a)
            yield pd.DataFrame(
                {
                    "ck": list(counts),
                    "occ": [counts[c] for c in counts],
                    "clen": [lens[c] for c in counts],
                }
            )

    partials = src.mapInPandas(_chunks, "ck string, occ long, clen int")
    per_chunk = partials.groupBy("ck").agg(
        F.sum("occ").alias("occ"), F.min("clen").alias("clen")
    )
    return per_chunk.agg(
        F.sum("occ").alias("n_chunks"),
        F.count("*").alias("n_unique_chunks"),
        F.sum(F.col("occ") * F.col("clen")).alias("total_chars"),
        F.sum("clen").alias("unique_chars"),
        F.round(
            F.sum("clen") / F.sum(F.col("occ") * F.col("clen")), 6
        ).alias("dedup_ratio"),
    )
