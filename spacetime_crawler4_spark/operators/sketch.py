"""Engine-portable HyperLogLog distinct-count sketch.

``approx_count_distinct`` exists in both Spark and DuckDB, but their
internal hashes differ, so the estimates can't be cross-checked. This
HLL builds the sketch from first principles with a PORTABLE hash
(md5, like the MinHash/sampling planes), so Spark and the DuckDB oracle
produce the bit-identical register file and therefore the bit-identical
estimate — the sketch itself becomes oracle-checkable, not just "close".

Shape (Flajolet et al. 2007): bucket = first ``b`` hex digits of
md5(key) (p = 16^... — we use b hex chars = 4b bits, m = 2^(4b)
registers); rho = 1 + leading zero bits of the next 12 hex chars.
The register build is ONE hash-shuffle with map-side partial max —
the same cost as a count(distinct) partial — and the estimate is a
1-row fold over m registers. At 100 TB this is the cardinality
primitive for per-partition stats without a global distinct shuffle:
registers merge by max, so per-partition sketches union for free.

Bias handling: the standard alpha_m correction plus linear counting
below the 2.5m threshold (both engines compute the identical branches;
the registry query reports estimate AND exact side by side with the
measured relative error).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_HEX_CHARS = 2  # m = 256 registers (±6.5% standard error)
HLL_RHO_HEX = 12  # 48 bits of rho material — enough for any real corpus


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_register_expr(key: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one key — md5-based, portable verbatim to SQL.

    rho = leading zero BITS of the 48-bit slice after the bucket chars,
    + 1 (Flajolet's rank). conv(hex, 16, 10) gives the integer both
    engines agree on; the zero count is 48 - bit_length(slice)."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, HLL_HEX_CHARS), 16, 10).cast("int")
    tail = F.conv(
        F.substring(h, HLL_HEX_CHARS + 1, HLL_RHO_HEX), 16, 10
    ).cast("long")
    nbits = 4 * HLL_RHO_HEX
    # rho = nbits - bit_length(tail) + 1, computed INTEGER-EXACT via the
    # minimal-width binary string (Spark conv(x,10,2) == DuckDB bin(x)),
    # never through float log2 (a 1-ulp divergence at exact powers of two
    # would flip floor() differently per engine)
    rho = F.when(tail == 0, F.lit(nbits + 1)).otherwise(
        F.lit(nbits) - F.length(F.conv(tail.cast("string"), 10, 2)) + 1
    )
    return bucket, rho


def hll_estimate(df: DataFrame, key_col: str) -> DataFrame:
    """One-row DataFrame: (hll_estimate bigint) for distinct key_col.

    Build: one shuffle on bucket with map-side partial max (256 rows
    reach the reduce side per partition); estimate: a single fold."""
    m = 16 ** HLL_HEX_CHARS
    bucket, rho = hll_register_expr(F.col(key_col))
    regs = (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )
    alpha = _alpha(m)
    # coalesce: an EMPTY input has zero register rows, so sum() is NULL —
    # with s=0/nz=0 the raw estimate alpha*m²/m <= 2.5m routes to linear
    # counting, which is exactly 0 (m*ln(m/m)); without the coalesce the
    # whole estimate is NULL and downstream arithmetic (rel_err) breaks
    agg = regs.agg(
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("r"))), F.lit(0.0)).alias("s"),
        F.count("*").alias("nz"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("nz")))
    # linear counting below 2.5m when empty registers remain
    est = F.when(
        (raw <= 2.5 * m) & (F.col("nz") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("nz"))),
    ).otherwise(raw)
    return agg.select(F.floor(est).cast("long").alias("hll_estimate"))


def hll_sql(table_expr: str, key_sql: str) -> str:
    """The DuckDB mirror of ``hll_estimate`` — identical hash, identical
    register file, identical correction branches, so the estimate is
    hash-exact across engines."""
    m = 16 ** HLL_HEX_CHARS
    nbits = 4 * HLL_RHO_HEX
    alpha = _alpha(m)
    return f"""
WITH h AS (SELECT md5(CAST({key_sql} AS VARCHAR)) AS hx FROM {table_expr}),
br AS (SELECT CAST(('0x' || substr(hx, 1, {HLL_HEX_CHARS})) AS INTEGER) AS bucket,
              CAST(('0x' || substr(hx, {HLL_HEX_CHARS + 1}, {HLL_RHO_HEX})) AS BIGINT) AS tail
       FROM h),
regs AS (SELECT bucket,
                max(CASE WHEN tail = 0 THEN {nbits + 1}
                    ELSE {nbits} - length(bin(tail)) + 1
                    END) AS r
         FROM br GROUP BY bucket),
agg AS (SELECT coalesce(sum(power(2.0, -r)), 0.0) AS s, count(*) AS nz FROM regs),
-- every operand forced to DOUBLE: a bare decimal literal is DECIMAL in
-- DuckDB (overflows at alpha*m*m and wouldn't mirror Spark's IEEE math)
est AS (SELECT CAST({alpha!r} AS DOUBLE) * {m} * {m} / (s + ({m} - nz)) AS raw,
               nz
        FROM agg)
SELECT CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND nz < {m}
            THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / ({m} - nz))
            ELSE raw END) AS BIGINT) AS hll_estimate
FROM est
"""


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — the frequency twin of
# the HLL above, with the same engine-portability contract: every row hash
# is md5-derived, so Spark and the DuckDB oracle build the bit-identical
# counter matrix and the bit-identical estimates. Guarantees checked by
# tests: estimate >= true count always; each row of the matrix sums to the
# total stream weight.
#
# Scale shape: the matrix build is ONE shuffle whose reduce-side volume is
# bounded by depth*width*partitions (map-side partial sum collapses the
# token stream to at most d*w rows per map task) — at 100 TB this is how
# you get heavy-hitter candidates without a full distinct-key shuffle.
# Point queries join the (tiny) candidate set against the d*w-row matrix.
# --------------------------------------------------------------------------

CMS_DEPTH = 3  # pairwise-independent rows; P[overestimate] decays per row
CMS_WIDTH = 1024  # buckets per row (error ~ e/w * total weight)
CMS_HEX = 8  # hex chars of md5 per row hash (32 bits >> log2(width))


def cms_bucket_expr(key: Column, row: int) -> Column:
    """Row-``row`` bucket for one key — md5('cms{row}:'||key) % width,
    portable verbatim to DuckDB SQL."""
    h = F.md5(F.concat(F.lit(f"cms{row}:"), key.cast("string")))
    return (
        F.conv(F.substring(h, 1, CMS_HEX), 16, 10).cast("long") % CMS_WIDTH
    ).cast("int")


def cms_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(row, bucket, c) counter matrix for the key stream (weight 1 per
    input row). One explode to depth rows per key, then one groupBy with
    map-side partial sum — reduce-side volume <= depth*width*maps."""
    key = F.col(key_col)
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        cms_bucket_expr(key, j).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rb")
    )
    return (
        pairs.groupBy(
            F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
        )
        .agg(F.count("*").alias("c"))
    )


def cms_point_estimates(
    registers: DataFrame, candidates: DataFrame, key_col: str
) -> DataFrame:
    """(key_col, cms_estimate) — min over the depth rows of the matrix
    cell each candidate hashes to. The candidate side is tiny (top-k
    heavy hitters); the matrix is at most depth*width rows, so the join
    broadcasts."""
    key = F.col(key_col)
    probes = candidates.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        cms_bucket_expr(key, j).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(registers), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )


def cms_pairs_sql(key_sql: str, row: int) -> str:
    """DuckDB mirror of ``cms_bucket_expr`` for one row index."""
    return (
        f"CAST(('0x' || substr(md5('cms{row}:' || CAST({key_sql} AS VARCHAR)), "
        f"1, {CMS_HEX})) AS BIGINT) % {CMS_WIDTH}"
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters (two-pass candidate + exact-verify)
# --------------------------------------------------------------------------
#
# The 100-TB shape for "which keys exceed a phi=1/k frequency share": a
# full groupBy over the raw key stream shuffles the entire vocabulary; the
# Misra-Gries route keeps <= k counters PER PARTITION (map-side, zero
# shuffle), unions the per-partition summaries (<= k * n_partitions rows),
# and then makes ONE more pass that exact-counts ONLY the candidate keys
# via a broadcast semi-join — the reduce-side agg state is bounded by the
# candidate set, not the vocabulary.
#
# Cost profile, measured (BASELINE.md session-13): on a single node the
# JVM hash aggregate wins wall-clock (6.1 s vs 24.5 s on a 40M-token /
# 2.8M-vocab stream) because the Arrow transfer into the per-partition
# Python counters dominates; what MG buys is the reduce state — 26
# candidate keys vs 2.8M groups there — i.e. the regime where the
# vocabulary no longer fits executor memory. Prefer the plain groupBy
# (or the JVM-side CMS twin above) until state size, not CPU, is the
# binding constraint. Soundness (Misra-Gries 1982; merge
# form Agarwal et al., "Mergeable Summaries", PODS'12): an MG(k) summary
# undercounts any key by at most n_p/k, so a key with global count
# > n/k = sum_p n_p/k must retain a positive counter in at least one
# partition's summary — the candidate union is a SUPERSET of the true
# heavy hitters, and the exact-verify pass makes the final answer exact,
# independent of partitioning, batch order, or summary content.

MG_DEFAULT_K = 30


def mg_candidates(df: DataFrame, key_col: str, k: int = MG_DEFAULT_K) -> DataFrame:
    """Per-partition mergeable Misra-Gries summaries, unioned.

    Output: (key_col, mg_count) candidate rows — a superset of every key
    with count > n_partition/k in some partition — plus one sentinel row
    per partition (key_col NULL, mg_count = partition row count) so the
    caller can recover the exact global n without a second scan.

    mapInPandas so the <= k counters persist ACROSS Arrow batches within
    a partition; each batch folds in via exact value_counts followed by
    the summary-merge rule (combine, then subtract the (k+1)-th largest
    count and drop non-positives), which is the mergeable-summaries form
    of the decrement step.
    """
    import pandas as pd

    out_schema = f"`{key_col}` string, mg_count long"

    def _mg(batches):
        counters: "pd.Series | None" = None
        n_rows = 0
        for pdf in batches:
            s = pdf[key_col].dropna().astype(str)
            n_rows += len(s)
            vc = s.value_counts()
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = (counters - cut)[lambda c: c > 0]
        rows = (
            [] if counters is None
            else [{key_col: key, "mg_count": int(c)} for key, c in counters.items()]
        )
        rows.append({key_col: None, "mg_count": n_rows})
        yield pd.DataFrame(rows, columns=[key_col, "mg_count"])

    return df.select(key_col).mapInPandas(_mg, schema=out_schema)


def mg_heavy_hitters(
    df: DataFrame, key_col: str, k: int = MG_DEFAULT_K
) -> DataFrame:
    """Exact keys with count > n/k, via MG candidates + one verify pass.

    Returns (key_col, n_exact, n_total) — deterministic and exact by the
    superset guarantee, however the input was partitioned. The verify
    pass broadcasts the candidate set (<= k * n_partitions keys) so the
    groupBy agg state is bounded by it; the n/k threshold compares in
    INTEGER space (n_exact * k > n_total) — no float division. The
    summary frame is materialized once (it is tiny — k+1 rows per
    partition) because both the candidate set and the total derive from
    it; without the checkpoint each consumer re-runs the full MG scan
    (the plan showed the MapInPandas stage duplicated)."""
    summary = mg_candidates(df, key_col, k).localCheckpoint(eager=True)
    cand = summary.filter(F.col(key_col).isNotNull()).select(key_col).distinct()
    totals = summary.filter(F.col(key_col).isNull()).agg(
        F.coalesce(F.sum("mg_count"), F.lit(0)).alias("n_total")
    )
    exact = (
        df.join(F.broadcast(cand), key_col)
        .groupBy(key_col)
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        exact.crossJoin(F.broadcast(totals))
        .filter(F.col("n_exact") * k > F.col("n_total"))
        .select(key_col, "n_exact", "n_total")
    )


def hll_estimate_by(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """(group_col, hll_estimate) — one HLL per group, the mergeable-by-key
    production shape (per-domain distinct URLs, per-source content
    diversity). Registers shuffle ONCE on (group, bucket) with map-side
    partial max — at most group_count * 256 rows reach the reduce side —
    and each group's fold applies the identical correction branches as
    the global ``hll_estimate``, so every estimate stays hash-exact
    against the SQL mirror. Registers keyed by group also union across
    corpus shards for free (max is associative/commutative), which is
    what makes this the incremental per-key cardinality primitive."""
    return hll_estimate_from_registers(
        hll_registers_by(df, group_col, key_col), group_col
    )


def hll_registers_by(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """(group_col, bucket, r) — the per-group register file itself, the
    PERSISTABLE sketch state: write it as a parquet/Iceberg state table
    per ingest batch and a later batch's registers fold in with
    ``hll_merge_registers`` without ever re-reading history. The exact
    pattern of the crawl store's incremental seen-sketch
    (functions/bloom.BloomBlob.with_keys), applied to cardinality state."""
    bucket, rho = hll_register_expr(F.col(key_col))
    return (
        df.select(group_col, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge_registers(
    a: DataFrame, b: DataFrame, group_col: str
) -> DataFrame:
    """Union two register tables (max per (group, bucket)) — lossless:
    estimating the merge equals estimating the concatenated inputs,
    because max is associative/commutative/idempotent register-wise."""
    return (
        a.unionByName(b)
        .groupBy(group_col, "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_estimate_from_registers(regs: DataFrame, group_col: str) -> DataFrame:
    """Per-group estimate fold over a register table (see hll_estimate
    for the correction-branch contract)."""
    m = 16 ** HLL_HEX_CHARS
    alpha = _alpha(m)
    agg = regs.groupBy(group_col).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s"),
        F.count("*").alias("nz"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("nz")))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("nz") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("nz"))),
    ).otherwise(raw)
    return agg.select(group_col, F.floor(est).cast("long").alias("hll_estimate"))


def hll_group_sql(table_expr: str, group_sql: str, key_sql: str) -> str:
    """DuckDB mirror of ``hll_estimate_by`` (same contract as hll_sql:
    identical hash, registers, and correction branches per group)."""
    m = 16 ** HLL_HEX_CHARS
    nbits = 4 * HLL_RHO_HEX
    alpha = _alpha(m)
    return f"""
WITH h AS (SELECT {group_sql} AS grp, md5(CAST({key_sql} AS VARCHAR)) AS hx
           FROM {table_expr}),
br AS (SELECT grp,
              CAST(('0x' || substr(hx, 1, {HLL_HEX_CHARS})) AS INTEGER) AS bucket,
              CAST(('0x' || substr(hx, {HLL_HEX_CHARS + 1}, {HLL_RHO_HEX})) AS BIGINT) AS tail
       FROM h),
regs AS (SELECT grp, bucket,
                max(CASE WHEN tail = 0 THEN {nbits + 1}
                    ELSE {nbits} - length(bin(tail)) + 1
                    END) AS r
         FROM br GROUP BY grp, bucket),
agg AS (SELECT grp, sum(power(2.0, -r)) AS s, count(*) AS nz
        FROM regs GROUP BY grp),
est AS (SELECT grp, nz,
               CAST({alpha!r} AS DOUBLE) * {m} * {m} / (s + ({m} - nz)) AS raw
        FROM agg)
SELECT grp, CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND nz < {m}
            THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / ({m} - nz))
            ELSE raw END) AS BIGINT) AS hll_estimate
FROM est
"""


# --------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch — set-EXPRESSION cardinality
# --------------------------------------------------------------------------
#
# HLL answers "how many distinct" for one stream; it cannot estimate an
# INTERSECTION (register max loses the evidence). The KMV/theta sketch
# (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007 "On synopses for
# distinct-value estimation"; the Apache DataSketches theta family) keeps
# the k smallest hash values per set instead: the k-th minimum theta
# estimates density (union_est = (k-1)*H/theta), and because the kept
# values are a uniform SAMPLE of the set below theta, two sketches
# compose: the k smallest of (A_k union B_k) are the k smallest of
# (A union B), and counting how many of them lie in both sketches gives
# an unbiased Jaccard/intersection estimate — union, intersection, and
# difference cardinality from two O(k) synopses, never re-reading data.
#
# Portability contract (same as the HLL/MinHash planes): the hash is the
# first 12 hex chars of md5 as a 48-bit integer, all selection is
# integer-exact (row_number over h), and the only floats are final
# divisions — Spark and the DuckDB oracle produce bit-identical sketches
# and therefore bit-identical estimates.

KMV_K = 128
KMV_HEX = 12  # 48-bit hash space
KMV_H = 16 ** KMV_HEX


def kmv_hashes(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """(grp, h) — distinct 48-bit md5-prefix hash per (group, key).

    One distinct-shuffle; at 100 TB this is the only pass over raw data
    the whole set-algebra plane needs."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, KMV_HEX), 16, 10
    ).cast("long")
    return df.select(F.col(group_col).alias("grp"), h.alias("h")).distinct()


def kmv_sketch(hashes: DataFrame, k: int = KMV_K) -> DataFrame:
    """(grp, h) keeping only each group's k smallest hashes — the
    persistable sketch state (<= k rows per group; parquet/Iceberg it
    like the HLL register files). Mergeable: union two sketch tables and
    re-rank — the k smallest of concatenated k-minima are exactly the
    k smallest of the concatenated sets below both thetas."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_pair_setops(sk: DataFrame, k: int = KMV_K) -> DataFrame:
    """All-pairs set algebra from the sketches ALONE: for every group
    pair (grp_a < grp_b) estimate union / intersection / Jaccard.

    Shape: the group list is tiny (it is the sketch's partition key), so
    the pair frame is a broadcast cross of two distinct-group lists; the
    merge is two bounded joins (<= k rows per group side) + one window
    rank per pair. Nothing here touches the raw keyed data.

    Estimator: with the pair's merged k smallest values (theta = the
    k-th), union_est = (k-1)*H/theta; rho = |kept in BOTH sketches|;
    jaccard_est = rho/n_kept; inter_est = jaccard_est * union_est.
    If the merged sketch has fewer than k values, both input sketches
    were exhaustive, the merge IS the union, and all three estimates
    are exact by construction (union_est = n_kept, inter = rho)."""
    from pyspark.sql.window import Window

    a = sk.select(F.col("grp").alias("grp_a"), "h")
    b = sk.select(F.col("grp").alias("grp_b"), "h")
    pairs = (
        a.select("grp_a")
        .distinct()
        .crossJoin(b.select("grp_b").distinct())
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    ma = pairs.join(a, "grp_a").select(
        "grp_a", "grp_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    mb = pairs.join(b, "grp_b").select(
        "grp_a", "grp_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    merged = (
        ma.unionByName(mb)
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    kept = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = kept.groupBy("grp_a", "grp_b").agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("rho"),
    )
    exact = F.col("n_kept") < k
    union_est = F.when(exact, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(KMV_H)) / F.col("theta")
    )
    jacc_est = F.col("rho") / F.col("n_kept")
    return agg.select(
        "grp_a",
        "grp_b",
        "n_kept",
        "rho",
        F.round(union_est, 6).alias("union_est"),
        F.round(jacc_est * union_est, 6).alias("inter_est"),
        F.round(jacc_est, 6).alias("jaccard_est"),
    )


def kmv_pair_sql(hash_table_expr: str, k: int = KMV_K) -> str:
    """DuckDB mirror of kmv_sketch + kmv_pair_setops over a
    (grp, h) hash table expression (same integer hash contract)."""
    return f"""
sk AS (SELECT grp, h FROM (
         SELECT grp, h,
                row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
         FROM {hash_table_expr}) WHERE rn <= {k}),
prs AS (SELECT ga.grp AS grp_a, gb.grp AS grp_b
        FROM (SELECT DISTINCT grp FROM sk) ga,
             (SELECT DISTINCT grp FROM sk) gb
        WHERE ga.grp < gb.grp),
mg AS (SELECT grp_a, grp_b, h, max(in_a) AS in_a, max(in_b) AS in_b
       FROM (SELECT p.grp_a, p.grp_b, s.h, 1 AS in_a, 0 AS in_b
             FROM prs p JOIN sk s ON s.grp = p.grp_a
             UNION ALL
             SELECT p.grp_a, p.grp_b, s.h, 0, 1
             FROM prs p JOIN sk s ON s.grp = p.grp_b)
       GROUP BY grp_a, grp_b, h),
kept AS (SELECT * FROM (
           SELECT grp_a, grp_b, h, in_a, in_b,
                  row_number() OVER (PARTITION BY grp_a, grp_b
                                     ORDER BY h) AS rn
           FROM mg) WHERE rn <= {k}),
ag AS (SELECT grp_a, grp_b, count(*) AS n_kept, max(h) AS theta,
              sum(in_a * in_b) AS rho
       FROM kept GROUP BY grp_a, grp_b),
est AS (SELECT grp_a, grp_b, n_kept, rho,
               CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
                    ELSE CAST({float(k - 1)!r} AS DOUBLE)
                         * CAST({float(KMV_H)!r} AS DOUBLE) / theta
               END AS union_est,
               CAST(rho AS DOUBLE) / n_kept AS jacc
        FROM ag)
"""


# --------------------------------------------------------------------------
# AMS F2 sketch — self-join-size estimation (Alon, Matias & Szegedy 1996)
# --------------------------------------------------------------------------

AMS_K = 16


#: sentinel a NULL key hashes as — shared verbatim by the SQL mirror so a
#: NULL never diverges (Spark concat_ws SKIPS NULLs, DuckDB || yields NULL)
AMS_NULL_KEY = "__ams_null_7f3b__"


def ams_sign(key: Column, j: int) -> Column:
    """±1 four-wise-ish sign for estimator ``j`` — parity of the first
    md5 hex digit of 'j:key' (engine-portable like every hash here).
    NULL keys are coalesced to :data:`AMS_NULL_KEY` before hashing —
    identically in :func:`ams_f2_sql` — so both engines fold a NULL key
    into the same estimator bucket instead of silently disagreeing."""
    keyed = F.coalesce(key.cast("string"), F.lit(AMS_NULL_KEY))
    d = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(j)), keyed)), 1, 1),
        16,
        10,
    ).cast("int")
    return F.when(d % 2 == 0, F.lit(1)).otherwise(F.lit(-1))


def ams_f2_estimate(freqs: DataFrame, key_col: str, freq_col: str, k: int = AMS_K) -> DataFrame:
    """One-row (f2_est double) — the AMS estimate of F2 = Σ f(key)²,
    i.e. the SELF-JOIN SIZE of the keyed table: the quantity a join
    planner needs to price an equi-join on this key without computing
    it. Each estimator j folds the whole table into ONE integer
    Z_j = Σ sign_j(key)·f(key) (E[Z²] = F2); the estimate is the
    median of k=16 squared fold values. Cost: a single aggregate with
    k sum expressions and map-side partial combine — k integers reach
    the driver, never a frequency table. Z and Z² are exact BIGINTs,
    so the oracle reproduces every estimator bit-for-bit; only the
    final median midpoint is a double."""
    # coalesce: an EMPTY frequency table must estimate F2 = 0, not NULL
    # (sum over zero rows is NULL — the hll_estimate empty-input lesson)
    zs = freqs.agg(
        *[
            F.coalesce(
                F.sum(ams_sign(F.col(key_col), j) * F.col(freq_col)),
                F.lit(0).cast("long"),
            ).alias(f"z{j}")
            for j in range(k)
        ]
    )
    ests = F.array_sort(
        F.array(*[(F.col(f"z{j}") * F.col(f"z{j}")).alias(f"e{j}") for j in range(k)])
    )
    mid = k // 2
    return zs.select(
        (
            (
                F.element_at(ests, mid).cast("double")
                + F.element_at(ests, mid + 1).cast("double")
            )
            / 2.0
        ).alias("f2_est")
    )


def ams_f2_sql(freq_table_expr: str, key_sql: str, freq_sql: str, k: int = AMS_K) -> str:
    """DuckDB mirror of ams_f2_estimate over a frequency-table expr.
    NULL keys coalesce to the same AMS_NULL_KEY sentinel as ams_sign."""
    key_cs = f"coalesce(CAST({key_sql} AS VARCHAR), '{AMS_NULL_KEY}')"
    zcols = ",\n       ".join(
        f"coalesce(sum(CASE WHEN CAST(('0x' || substr(md5('{j}:' || {key_cs}), 1, 1)) AS INTEGER) % 2 = 0"
        f" THEN {freq_sql} ELSE -{freq_sql} END), 0) AS z{j}"
        for j in range(k)
    )
    earr = "[" + ", ".join(f"z{j} * z{j}" for j in range(k)) + "]"
    mid = k // 2
    return f"""
zs AS (SELECT {zcols} FROM {freq_table_expr}),
es AS (SELECT list_sort({earr}) AS e FROM zs),
ams AS (SELECT (CAST(e[{mid}] AS DOUBLE) + CAST(e[{mid + 1}] AS DOUBLE)) / 2.0
            AS f2_est FROM es)
"""


# --------------------------------------------------------------------------
# Poisson bootstrap — uncertainty for massive data in ONE pass
# --------------------------------------------------------------------------
#
# The classical bootstrap resamples n rows WITH replacement B times — a
# non-starter at 100 TB (B full shuffled copies). The Poisson bootstrap
# (Chamandy et al., "Estimating uncertainty for massive data streams",
# Google 2012; Kleiner et al.'s BLB is the heavier cousin) replaces each
# replicate's multinomial row counts with independent Poisson(1) weights:
# every row carries B small integer weights derived from its own hash, so
# ALL B replicate statistics are computed in ONE aggregate pass with
# map-side combine — B weighted sums, no shuffle of data rows at all.
#
# Determinism contract (same as every plane here): the Poisson draw is
# the inverse CDF applied to a 48-bit md5 uniform, with the cumulative
# thresholds written as exact double literals shared verbatim by the
# Spark expression and the SQL mirror — identical u ⇒ identical weight ⇒
# bit-identical replicate sums.

BOOT_B = 100
BOOT_HEX = 12
# cumulative P(Poisson(1) <= k), k = 0..7; beyond that weight 8
_POIS_CDF = []
_acc = 0.0
_fact = 1
for _k in range(8):
    if _k:
        _fact *= _k
    _acc += math.exp(-1.0) / _fact
    _POIS_CDF.append(_acc)


def _boot_u(key: Column, b: int) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(f"boot{b}"), key.cast("string"))),
                1,
                BOOT_HEX,
            ),
            16,
            10,
        ).cast("double")
        / float(16 ** BOOT_HEX)
    )


def boot_weight(key: Column, b: int) -> Column:
    """Deterministic Poisson(1) weight for replicate ``b`` keyed on the
    row's id — inverse CDF over the md5 uniform."""
    u = _boot_u(key, b)
    w: Column | None = None
    for k, c in enumerate(_POIS_CDF):
        cond = u < F.lit(c)
        w = F.when(cond, F.lit(k)) if w is None else w.when(cond, F.lit(k))
    return w.otherwise(F.lit(8))


def poisson_bootstrap_mean(
    df: DataFrame, id_col: str, value_col: str, b: int = BOOT_B
) -> DataFrame:
    """One-row (obs_mean, ci_lo, ci_hi, n, n_replicates): the observed
    mean of ``value_col`` with a 95% percentile-bootstrap interval from
    ``b`` Poisson replicates — computed in a SINGLE aggregate (2b+2 sums
    with map-side combine; nothing but 2b+2 numbers leaves the
    executors). Replicates whose Poisson weights sum to zero (possible
    on tiny inputs) are excluded from the percentile; indices use the
    nearest-rank convention on the sorted replicate means."""
    key = F.col(id_col)
    x = F.col(value_col).cast("double")
    aggs = [
        F.sum(x).alias("sx"),
        F.count("*").alias("n"),
    ]
    for j in range(b):
        w = boot_weight(key, j)
        aggs.append(F.sum(w * x).alias(f"swx{j}"))
        aggs.append(F.sum(w).alias(f"sw{j}"))
    row = df.agg(*aggs)
    means = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        F.col(f"sw{j}") > 0,
                        F.col(f"swx{j}") / F.col(f"sw{j}"),
                    )
                    for j in range(b)
                ]
            ),
            lambda m: m.isNotNull(),
        )
    )
    nrep = F.size(means)
    lo_i = F.greatest(F.ceil(nrep * 0.025).cast("int"), F.lit(1))
    hi_i = F.least(F.ceil(nrep * 0.975).cast("int"), nrep)
    return row.select(
        F.round(F.col("sx") / F.col("n"), 6).alias("obs_mean"),
        F.round(F.element_at(means, lo_i), 6).alias("ci_lo"),
        F.round(F.element_at(means, hi_i), 6).alias("ci_hi"),
        F.col("n"),
        nrep.alias("n_replicates"),
    )


def poisson_bootstrap_sql(
    table_expr: str, id_sql: str, value_sql: str, b: int = BOOT_B
) -> str:
    """DuckDB mirror — identical thresholds, weights, and rank picks."""
    def w_expr(j: int) -> str:
        # `bid` — the base CTE's aliased id column, not the raw id_sql
        u = (
            f"CAST(('0x' || substr(md5('boot{j}:' || CAST(bid AS VARCHAR)),"
            f" 1, {BOOT_HEX})) AS BIGINT) / CAST({float(16 ** BOOT_HEX)!r} AS DOUBLE)"
        )
        cases = " ".join(
            f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
        )
        return f"(CASE {cases} ELSE 8 END)"

    sums = ",\n       ".join(
        f"sum({w_expr(j)} * x) AS swx{j},\n       sum({w_expr(j)}) AS sw{j}"
        for j in range(b)
    )
    marr = "[" + ", ".join(
        f"CASE WHEN sw{j} > 0 THEN swx{j} / sw{j} END" for j in range(b)
    ) + "]"
    return f"""
base AS (SELECT {id_sql} AS bid, CAST({value_sql} AS DOUBLE) AS x
         FROM {table_expr}),
ag AS (SELECT sum(x) AS sx, count(*) AS n,
       {sums}
       FROM base),
ms AS (SELECT sx, n,
              list_sort([m for m in {marr} if m IS NOT NULL]) AS means
       FROM ag),
boot AS (SELECT round(sx / n, 6) AS obs_mean,
                round(means[greatest(CAST(ceil(len(means) * 0.025) AS INTEGER), 1)], 6) AS ci_lo,
                round(means[least(CAST(ceil(len(means) * 0.975) AS INTEGER), len(means))], 6) AS ci_hi,
                n, len(means) AS n_replicates
         FROM ms)
"""
