"""The text plane as Spark operators — the byte-identical-parity surface.

Three Arrow-batched pandas UDFs (SURVEY.md §2.10; reference citations inline):

- ``parse_page_udf``     — HTML/sitemap parse → struct(links, text, sitemap)
                           (reference helpers/parser.py:74-163)
- ``token_features_udf`` — tokenize + word count + low-info stats
                           (reference helpers/tokenize.py:35-137,
                            helpers/word_count.py:8-35; stats feed the
                            LOWINFO_POST predicate, workerpipe.py:38-40)
- ``simhash_udf``        — packed 32-bit simhash over the word map
                           (reference helpers/simhash.py:5-28)

Everything downstream of these structs (filters, dedup joins, windows,
aggregations) is pure JVM column expressions; the exact-dup hash is the
``exhash_col`` built-in composition (no Python at all).

Each UDF maps one Arrow batch with a plain ``for`` over the batch's rows of
*documents* — the per-document work (an HTML parse, a tokenizer pass) is
inherently per-document; what matters for scale is that batches cross the
JVM/Python boundary as Arrow columns, not as pickled rows, and that the
GIL-bound loop runs in parallel across executor cores.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from spacetime_crawler4_spark.functions.exhash import exhash_col
from spacetime_crawler4_spark.functions.htmltext import extract_page
from spacetime_crawler4_spark.functions.simhash import simhash32
from spacetime_crawler4_spark.functions.tokenizer import tokenize, word_count

PARSE_SCHEMA = StructType(
    [
        StructField("links", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("sitemap", BooleanType()),
    ]
)

TOKEN_SCHEMA = StructType(
    [
        StructField("tokens", ArrayType(StringType())),
        StructField("words", MapType(StringType(), IntegerType())),
        StructField("n_unique", IntegerType()),
        StructField("n_total", LongType()),
        StructField("max_count", IntegerType()),
    ]
)


@pandas_udf(PARSE_SCHEMA)
def parse_page_udf(url: pd.Series, html: pd.Series, content_type: pd.Series) -> pd.DataFrame:
    """(url, html, content_type) -> (links sorted+deduped, text, sitemap).

    ``text`` is the canonical ``"\\n".join(fragments)`` serialization — the
    per-row byte-identical invariant vs the reference extractor
    (BASELINE.json input_hint; helpers/parser.py:139-163).
    """
    links, texts, sitemaps = [], [], []
    for u, h, ct in zip(url, html, content_type):
        ex = extract_page(u, h or b"", ct or "text/html")
        links.append(ex.links)
        texts.append(ex.text)
        sitemaps.append(ex.sitemap)
    return pd.DataFrame({"links": links, "text": texts, "sitemap": sitemaps})


@pandas_udf(TOKEN_SCHEMA)
def token_features_udf(text: pd.Series) -> pd.DataFrame:
    """text -> (tokens, word map, unique/total/max counts).

    The three counts are emitted here so the LOWINFO_POST predicate
    (workerpipe.py:38-40,250-254) stays a JVM filter on plain int columns
    instead of re-walking the map.
    """
    toks_out, words_out, uniq, total, mx = [], [], [], [], []
    for t in text:
        toks = tokenize(t or "")
        words = word_count(toks)
        toks_out.append(toks)
        words_out.append(words)
        uniq.append(len(words))
        total.append(len(toks))
        mx.append(max(words.values()) if words else 0)
    return pd.DataFrame(
        {"tokens": toks_out, "words": words_out, "n_unique": uniq, "n_total": total, "max_count": mx}
    )


@pandas_udf(LongType())
def simhash_udf(words: pd.Series) -> pd.Series:
    """word map -> packed 32-bit simhash (reference helpers/simhash.py:5-28).

    Returned as LongType so the near-dup join is the JVM built-in
    ``bit_count(h1 ^ h2) <= 5`` (SURVEY.md §2.3 J5). Empty map -> 0.
    """
    return pd.Series([simhash32(dict(w) if w is not None else {}) for w in words], dtype="int64")


@pandas_udf(LongType())
def simhash64_udf(words: pd.Series) -> pd.Series:
    """word map -> packed 64-bit simhash (full crc64 lanes) — the
    production near-dup plane; the 32-bit parity fingerprint saturates on
    large corpora (functions/simhash.py, BASELINE.md scale notes)."""
    from spacetime_crawler4_spark.functions.simhash import simhash64

    return pd.Series(
        [simhash64(dict(w) if w is not None else {}) for w in words], dtype="int64"
    )


CRAWL_FEATURES_SCHEMA = StructType(
    [
        StructField("links", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("sitemap", BooleanType()),
        StructField("word_keys", ArrayType(StringType())),
        StructField("word_cnts", ArrayType(IntegerType())),
        StructField("n_unique", IntegerType()),
        StructField("n_total", LongType()),
        StructField("max_count", IntegerType()),
        StructField("smhash", LongType()),
    ]
)


def make_crawl_features_udf(simhash_bits: int = 32):
    """Fused crawl-path UDF factory: parse + tokenize + word-count +
    simhash in ONE Arrow round trip (the split UDFs would ship the words
    map JVM→Python→JVM again just to hash it). Sitemap rows skip
    tokenization entirely (reference worker.py:95: sitemaps bypass
    process_text).

    ``simhash_bits``: 32 is the reference-parity fingerprint; 64 is the
    production dedup plane (full crc64 lanes — the 32-bit fingerprint
    saturates beyond ~10^5 docs, BASELINE.md scale notes).

    The word map leaves Python as two parallel arrays (keys, counts) —
    Arrow list columns convert far cheaper than map columns — and is
    reassembled JVM-side with ``map_from_arrays`` (see crawl_words_col)."""
    from spacetime_crawler4_spark.functions.simhash import simhash32, simhash64

    if simhash_bits == 32:
        hash_fn = simhash32
    elif simhash_bits == 64:
        hash_fn = simhash64
    else:
        raise ValueError(f"simhash_bits must be 32 or 64, got {simhash_bits}")

    @pandas_udf(CRAWL_FEATURES_SCHEMA)
    def features_udf(
        url: pd.Series, html: pd.Series, content_type: pd.Series
    ) -> pd.DataFrame:
        out = {k: [] for k in CRAWL_FEATURES_SCHEMA.fieldNames()}
        for u, h, ct in zip(url, html, content_type):
            ex = extract_page(u, h or b"", ct or "text/html")
            out["links"].append(ex.links)
            out["text"].append(ex.text)
            out["sitemap"].append(ex.sitemap)
            if ex.sitemap:
                out["word_keys"].append([])
                out["word_cnts"].append([])
                out["n_unique"].append(0)
                out["n_total"].append(0)
                out["max_count"].append(0)
                out["smhash"].append(0)
            else:
                toks = tokenize(ex.text)
                words = word_count(toks)
                out["word_keys"].append(list(words.keys()))
                out["word_cnts"].append(list(words.values()))
                out["n_unique"].append(len(words))
                out["n_total"].append(len(toks))
                out["max_count"].append(max(words.values()) if words else 0)
                out["smhash"].append(hash_fn(words))
        return pd.DataFrame(out)

    return features_udf


# module-level default: the reference-parity 32-bit plane
crawl_features_udf = make_crawl_features_udf(32)


def crawl_words_col(feat: Column) -> Column:
    """Reassemble the word-count map JVM-side from the fused UDF's parallel
    key/count arrays."""
    return F.map_from_arrays(feat["word_keys"], feat["word_cnts"])


def with_text_plane(
    df: DataFrame,
    url: str = "url",
    html: str = "html",
    content_type: str = "content_type",
) -> DataFrame:
    """Attach the full text plane to a pages-shaped DataFrame.

    Adds: exhash (pure JVM), parsed(links,text,sitemap), tok(tokens,words,
    n_unique,n_total,max_count), smhash. One UDF invocation per plane —
    Catalyst keeps each struct a single projection.
    """
    ct = F.col(content_type) if content_type in df.columns else F.lit("text/html")
    out = df.withColumn("exhash", exhash_col(F.col(html)))
    out = out.withColumn("parsed", parse_page_udf(F.col(url), F.col(html), ct))
    out = out.withColumn("tok", token_features_udf(F.col("parsed.text")))
    out = out.withColumn("smhash", simhash_udf(F.col("tok.words")))
    return out
