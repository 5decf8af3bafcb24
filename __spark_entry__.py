"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` exposes
one (spark, sf_dir) -> DataFrame callable per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extras); ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL for the driver's side-by-side
correctness gate. Column names/aliases match pairwise by construction.

Float-valued results are rounded to 6 decimals on BOTH sides so the
order-insensitive value hash is robust to summation-order differences
between engines.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts may be parquet TIMESTAMP(NANOS), which Spark only reads
        # with this flag (as epoch-nanos BIGINT); TIMESTAMP(MICROS) data is
        # unaffected. normalize_event_time unifies both shapes.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from datajudge_spark.sources import normalize_event_time, read_parquet

    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_time(df, "ts")
    if name in ("documents", "embeddings"):
        # single-file scans land in one partition; spread so the CPU-heavy
        # text/vector work parallelizes (no-op at real multi-file scale)
        from datajudge_spark.pipeline._util import spread

        df = spread(df)
    return df


def _event_stream(scope, sf_dir: str) -> DataFrame:
    """The events table as a file stream of a ``StreamScope``, event
    time normalized as in ``_t``."""
    from datajudge_spark.sources import normalize_event_time

    return normalize_event_time(scope.stream(f"{sf_dir}/events.parquet"))


def _day_cents_stream(scope, sf_dir: str) -> DataFrame:
    """Events as ``(k, d, c)`` = (event_type, days since epoch, integer
    cents), the input shape of ``stateful_cusum`` / ``stateful_zscore``.
    Cents are cast JVM-side so the Python fold only sums exact ints."""
    return (
        _event_stream(scope, sf_dir)
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01")
            ).alias("d"),
            _cents("value").alias("c"),
        )
    )


def _final_state_per_key(sink: DataFrame, *fields: str) -> DataFrame:
    """Per key of an update-mode sink, the emission with the largest
    first field (``n_obs``, strictly increasing per emission: the final
    state), as ``event_type`` + ``fields``."""
    return (
        sink.groupBy("key")
        .agg(F.max(F.struct(*fields)).alias("s"))
        .select(
            F.col("key").alias("event_type"),
            *(F.col(f"s.{f}").alias(f) for f in fields),
        )
        .orderBy("event_type")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pricing-summary rollup over lineitem (groupBy + multi-agg),
    the canonical partial-agg + single-shuffle Spark plan."""
    li = _t(spark, SF_DEFAULT, "lineitem")
    return (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
    )


# --------------------------------------------------------------------------
# §2.4 scalar aggregates
# --------------------------------------------------------------------------

def q_row_count(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


def q_row_count_capped(spark, sf_dir):
    # LIMIT-capped count (reference NRowsMin early-out, db_access.py:740-756)
    return (
        _t(spark, sf_dir, "lineitem").limit(1000).agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_filtered_count(spark, sf_dir):
    # projection/filter with condition pushed to the parquet scan
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.expr("(l_quantity > 25) and (l_discount <= 0.05)"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_min_max(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def q_mean(spark, sf_dir):
    # decimal-exact sum, then one double division: deterministic across
    # engines and summation orders (a float avg is not)
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_price")
    )


def q_length_extremes(spark, sf_dir):
    return _t(spark, sf_dir, "orders").agg(
        F.min(F.length("o_orderpriority")).alias("min_len"),
        F.max(F.length("o_orderpriority")).alias("max_len"),
    )


def q_fraction_between(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(
            F.count(F.when((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40), 1))
            / F.count(F.lit(1)),
            6,
        ).alias("fraction")
    )


def q_null_fraction(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.round(
            F.count(F.when(F.col("props").isNull(), 1)) / F.count(F.lit(1)), 6
        ).alias("null_fraction")
    )


def q_date_span(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.datediff(
            F.max(F.col("o_orderdate")).cast("date"),
            F.min(F.col("o_orderdate")).cast("date"),
        ).cast("bigint").alias("span_days")
    )


def q_percentile(spark, sf_dir):
    # exact percentile (smallest v with >=90% of non-null values <= v),
    # two-pass range-bucketed: no global single-partition window even on
    # near-unique columns (SURVEY §4.4)
    from datajudge_spark.operators.scalars import exact_percentile_df

    li = _t(spark, sf_dir, "lineitem")
    return exact_percentile_df(li, "l_extendedprice", 90.0).select(
        F.col("value").alias("p90")
    )


# --------------------------------------------------------------------------
# §2.4 grouped aggregates / uniques
# --------------------------------------------------------------------------

def q_uniques_histogram(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_distinct_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


def q_distinct_union_count(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().agg(F.count(F.lit(1)).alias("n_distinct"))


def q_duplicates(spark, sf_dir):
    # all-column duplicates over a projection (reference db_access.py:1097-1115)
    proj = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return (
        proj.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def q_array_agg(spark, sf_dir):
    # per-group collected arrays, stringified deterministically so both
    # engines hash identically (reference db_access.py:1128-1161)
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_nationkey")), ",").alias("nations")
    )


def q_functional_dependency(spark, sf_dir):
    # violating keys of the FD o_custkey -> o_orderstatus
    uniq = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus").distinct()
    return (
        uniq.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_variants"))
        .where(F.col("n_variants") > 1)
    )


# --------------------------------------------------------------------------
# §2.7 set operations
# --------------------------------------------------------------------------

def q_except_distinct(spark, sf_dir):
    # EXCEPT (set semantics): customers with orders minus low-balance custs
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.subtract(c)


def q_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

def q_row_match_mismatch(spark, sf_dir):
    # match-compare join with null-safe comparison fused into one aggregate
    # (reference db_access.py:1044-1094)
    li = _t(spark, sf_dir, "lineitem").alias("l")
    o = _t(spark, sf_dir, "orders").alias("r")
    joined = li.join(o, F.col("l.l_orderkey") == F.col("r.o_orderkey"))
    cmp = F.col("l.l_shipdate").eqNullSafe(F.col("r.o_orderdate"))
    return joined.agg(
        F.round(F.avg(F.when(cmp, 0.0).otherwise(1.0)), 6).alias("mismatch_fraction"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_anti_join(spark, sf_dir):
    # customers with no orders (NOT EXISTS -> left_anti)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


def q_broadcast_join_agg(spark, sf_dir):
    # classic star join: fact x 2 small dims; dims are broadcast
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_interval_overlap(spark, sf_dir):
    # n_violation_keys for per-customer order intervals
    # [o_orderdate, o_orderdate + 7 days] (reference db_access.py:316-472;
    # pair-differs guard per the documented intent, see operators/interval.py)
    iv = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("s"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("e"),
    )
    t1, t2 = iv.alias("l"), iv.alias("r")
    distinct_viol = (
        t1.join(
            t2,
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.s") <= F.col("r.s"))
            & (F.col("l.e") >= F.col("r.s"))
            & ((F.col("l.s") != F.col("r.s")) | (F.col("l.e") != F.col("r.e"))),
        )
        .select(F.col("l.k").alias("k"))
    )
    dup_viol = (
        iv.groupBy("k", "s", "e")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("k")
    )
    return (
        distinct_viol.union(dup_viol)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_violation_keys"))
    )


def q_interval_gap(spark, sf_dir):
    # per-supplier shipment intervals [l_shipdate, l_shipdate+5d]; keys with
    # a gap via the islands pattern (one window pass, SURVEY §4.1)
    iv = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"),
        F.col("l_shipdate").alias("s"),
        F.expr("l_shipdate + INTERVAL 5 DAYS").alias("e"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_prev = iv.select("k", "s", F.max("e").over(w).alias("prev_end"))
    viol = with_prev.where(
        F.col("prev_end").isNotNull()
        & (F.datediff(F.col("s").cast("date"), F.col("prev_end").cast("date")) > 0)
    )
    return viol.select("k").distinct().agg(F.count(F.lit(1)).alias("n_violation_keys"))


# --------------------------------------------------------------------------
# §2.5 windows / §2.2 regex / stats
# --------------------------------------------------------------------------

def q_regex_violations(spark, sf_dir):
    # unanchored-search semantics, like the reference's regexp_match
    o = _t(spark, sf_dir, "orders")
    return o.where(~F.col("o_orderpriority").rlike("[0-9]-[A-Z]")).agg(
        F.count(F.lit(1)).alias("n_violations")
    )


def q_cross_cdf(spark, sf_dir):
    # cross-CDF through the PACKAGE operator: the union histogram's
    # global cumulatives come from the equi-depth bucketed construction
    # (operators/stats._bucketed_global_cums — sketch-assigned buckets,
    # bounded per-bucket windows, offset shift), so no stage depends on
    # |distinct values| landing in one partition even on a continuous
    # column. The cumulative over the carried zero counts IS the
    # reference's forward fill (db_access.py:1194-1280).
    from datajudge_spark.operators.stats import get_cross_cdf
    from datajudge_spark.reference import DataReference
    from datajudge_spark.sources import ExpressionDataSource

    li = _t(spark, sf_dir, "lineitem")
    ref1 = DataReference(
        ExpressionDataSource(li.where(F.col("l_returnflag") == "A"), "li_a"),
        ["l_quantity"],
    )
    ref2 = DataReference(
        ExpressionDataSource(li.where(F.col("l_returnflag") == "R"), "li_r"),
        ["l_quantity"],
    )
    filled, c1, c2 = get_cross_cdf(spark, ref1, ref2)
    return filled.select(
        "val",
        F.round(F.col(c1), 6).alias("cdf1"),
        F.round(F.col(c2), 6).alias("cdf2"),
    )


def q_ks_statistic(spark, sf_dir):
    filled = q_cross_cdf(spark, sf_dir)
    return filled.agg(
        F.round(F.max(F.abs(F.col("cdf1") - F.col("cdf2"))), 6).alias("d_statistic")
    )


def q_ks_statistic_continuous(spark, sf_dir):
    # distributed exact KS on a NEAR-UNIQUE column (the case where the
    # windowed construction degenerates to one partition, SURVEY §4.4):
    # range-partitioned sort + driver offsets, no global window
    from datajudge_spark.operators.stats import ks_d_statistic_distributed

    li = _t(spark, sf_dir, "lineitem")
    d = ks_d_statistic_distributed(
        li.where(F.col("l_returnflag") == "A"),
        li.where(F.col("l_returnflag") == "R"),
        "l_extendedprice",
        "l_extendedprice",
    )
    return spark.createDataFrame([(round(d, 6),)], "d_statistic double")


# --------------------------------------------------------------------------
# Training-data pipeline extras (documents / embeddings)
# --------------------------------------------------------------------------

def q_text_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens"),
    )


def q_text_quality(spark, sf_dir):
    # length / alpha-ratio / mean token length quality signals
    d = _t(spark, sf_dir, "documents")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(n_alpha / F.length("text"), 6).alias("alpha_ratio"),
        F.round(F.length("text") / n_tok, 6).alias("mean_token_len"),
    )


def q_text_stopword_ratio(spark, sf_dir):
    # occurrence counting via the replace trick — identical in both engines
    d = _t(spark, sf_dir, "documents")
    occ_the = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("the")))) / 3
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.select(
        "doc_id",
        occ_the.cast("bigint").alias("n_the"),
        F.round(occ_the / n_tok, 6).alias("stopword_ratio"),
    )


def q_doc_fingerprint(spark, sf_dir):
    # exact-dup fingerprint: md5 of lowercased, whitespace-collapsed text
    d = _t(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


def q_dedup_exact(spark, sf_dir):
    # exact-duplicate groups via fingerprint hash-groupBy
    d = _t(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        d.select(F.md5(normalized).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


_COS = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v) / "
    "(sqrt(aggregate({a}, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double))) * "
    "sqrt(aggregate({b}, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double))))"
)


def q_embedding_similar_pairs(spark, sf_dir):
    # brute-force cosine similarity: pairs (query vec_id < 20 x all) above
    # threshold; JVM-side higher-order functions, no Python UDF
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    pairs = q.crossJoin(c).where(F.col("qid") != F.col("cid"))
    cos = F.expr(_COS.format(a="qvec", b="cvec"))
    return (
        pairs.select("qid", cos.alias("cos"))
        .where(F.col("cos") > 0.8)
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_similar"))
    )


# --------------------------------------------------------------------------
# Dedup suite (pipeline.dedup): MinHash+LSH, SimHash, n-gram Jaccard
# --------------------------------------------------------------------------

_MINHASH_K, _LSH_BANDS, _LSH_ROWS, _SHINGLE_N = 12, 4, 3, 3
_SIMHASH_BITS, _SIMHASH_BANDS, _SIMHASH_MAXHAM = 48, 4, 3
_JACCARD_T, _JACCARD_MAXDF = 0.6, 100
# hot-bucket bound for LSH/SimHash pair generation (buckets beyond this
# emit a star against the min id instead of all pairs) — mirrored in the
# oracle SQL so both engines thin the same buckets identically
_LSH_MAX_BUCKET = 4096


def q_dedup_minhash_lsh(spark, sf_dir):
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(
        d, "doc_id", "text", num_hashes=_MINHASH_K, shingle_n=_SHINGLE_N
    )
    return dedup.lsh_candidate_pairs(
        sig, "doc_id", bands=_LSH_BANDS, rows=_LSH_ROWS,
        max_bucket=_LSH_MAX_BUCKET,
    )


def q_minhash_jaccard_est(spark, sf_dir):
    # sketch-vs-exact contract for MinHash: per LSH candidate pair, the
    # signature-agreement estimate next to the true shingle Jaccard —
    # measures the sketch the dedup pipeline trusts (same instinct as
    # ann_recall); every hash md5-derived, so even the error column is
    # oracle-reproducible
    from datajudge_spark.pipeline.dedup import minhash_jaccard_estimate

    d = _t(spark, sf_dir, "documents")
    return minhash_jaccard_estimate(
        d, "doc_id", "text",
        num_hashes=_MINHASH_K, shingle_n=_SHINGLE_N,
        bands=_LSH_BANDS, rows=_LSH_ROWS, max_bucket=_LSH_MAX_BUCKET,
    )


def q_dedup_simhash(spark, sf_dir):
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d, "doc_id", "text", bits=_SIMHASH_BITS)


def q_dedup_simhash_pairs(spark, sf_dir):
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    sim = dedup.simhash(d, "doc_id", "text", bits=_SIMHASH_BITS)
    return dedup.simhash_candidate_pairs(
        sim, "doc_id", max_hamming=_SIMHASH_MAXHAM, bits=_SIMHASH_BITS,
        bands=_SIMHASH_BANDS, max_bucket=_LSH_MAX_BUCKET,
    )


def q_dedup_clusters(spark, sf_dir):
    # connected components over the MinHash-LSH candidate graph:
    # (doc_id, cluster_id=min reachable id) via iterative min-label
    # propagation — the keep-one-per-cluster step of a dedup pipeline
    from datajudge_spark.pipeline import dedup

    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    return dedup.duplicate_clusters(pairs)


def q_dedup_jaccard(spark, sf_dir):
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        d,
        "doc_id",
        "text",
        shingle_n=_SHINGLE_N,
        threshold=_JACCARD_T,
        max_df=_JACCARD_MAXDF,
    )


def q_dedup_embedding_neardup(spark, sf_dir):
    from datajudge_spark.pipeline import similarity

    e = _t(spark, sf_dir, "embeddings")
    vecs = e.select("label", F.col("vec_id").alias("vid"), F.col("embedding").alias("vvec"))
    return similarity.near_dup_pairs(vecs, "label", threshold=0.95)


# --------------------------------------------------------------------------
# Similarity search (pipeline.similarity): brute-force top-k + IVF
# --------------------------------------------------------------------------

def q_ann_topk_bruteforce(spark, sf_dir):
    from datajudge_spark.pipeline import similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return similarity.topk_bruteforce(q, c, k=5)


def q_ann_topk_ivf(spark, sf_dir):
    from datajudge_spark.pipeline import similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cent = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    return similarity.topk_ivf(q, c, cent, k=3)


# --------------------------------------------------------------------------
# Text analysis (pipeline.text): language ID, BPE tokens, rolling hash
# --------------------------------------------------------------------------

def q_text_language_id(spark, sf_dir):
    from datajudge_spark.pipeline import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.language_id("text").alias("pred_lang"))


def q_text_bpe_token_count(spark, sf_dir):
    from datajudge_spark.pipeline import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.bpe_token_count("text").alias("n_bpe_tokens"))


def q_text_rolling_hash(spark, sf_dir):
    from datajudge_spark.pipeline import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_hash("text").alias("rhash"))


def q_decontaminate_ngram(spark, sf_dir):
    # benchmark decontamination: distinct 3-gram hash set of the train
    # split (doc_id % 10 != 0) joined against each eval doc's 3-grams;
    # only 60-bit hashes shuffle, never text
    from datajudge_spark.pipeline import decontam

    d = _t(spark, sf_dir, "documents")
    return decontam.ngram_contamination(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        shingle_n=_SHINGLE_N,
    )


def q_decontaminate_winnow(spark, sf_dir):
    # winnowing-fingerprint contamination: the sparse local-match
    # complement of q_decontaminate_ngram — any eval/train shared
    # passage of >= w+k-1 = 8 words is guaranteed to share a selected
    # fingerprint, at ~2/(w+1) index density. Train reduces to its
    # distinct 60-bit fingerprint set; only int64 hashes shuffle.
    from datajudge_spark.pipeline import decontam

    d = _t(spark, sf_dir, "documents")
    return decontam.winnowing_contamination(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        k=4,
        w=5,
    )


def q_ngram_novelty(spark, sf_dir):
    # corpus-level novelty: how much of the incoming shard's (doc_id %
    # 10 == 0) distinct 3-gram vocabulary is NEW vs the ingested corpus
    # — the "re-crawl or new information?" gate, set-level complement
    # of decontaminate_ngram. Distinct 60-bit hash sets join; one
    # digest row; text never shuffles.
    from datajudge_spark.pipeline import decontam

    d = _t(spark, sf_dir, "documents")
    return decontam.ngram_novelty(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        shingle_n=_SHINGLE_N,
    )


def q_per_source_novelty(spark, sf_dir):
    # corpus-curation ranking: each source's fraction of 3-gram
    # vocabulary appearing in NO other source — redundant vs unique
    # shards in one pass (hash breadth >= 2 == shared-elsewhere; no
    # per-source anti-join, no |sources|^2 work).
    from datajudge_spark.pipeline.decontam import per_source_novelty

    d = _t(spark, sf_dir, "documents")
    return per_source_novelty(
        d, "source", "text", shingle_n=_SHINGLE_N
    ).orderBy("source")


def q_grouped_mann_kendall(spark, sf_dir):
    # per-priority Mann-Kendall: screen every segment's daily series
    # for monotonic drift in one pass — pair join, tie groups and
    # variance all key by the group.
    from datajudge_spark.operators.timeseries import mann_kendall

    daily = _grouped_daily_cents(spark, sf_dir)
    return mann_kendall(daily, "cents", group_col="grp").orderBy("grp")


def q_seasonal_mann_kendall(spark, sf_dir):
    # Hirsch-Slack seasonal Mann-Kendall: trend tested WITHIN each
    # day-of-week stratum and summed, so the weekly cycle neither masks
    # a drift nor fakes one. 7x fewer pairs than the global test.
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        seasonal_mann_kendall,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    daily = daily_totals(o, "o_orderdate", F.sum(cents), "cents")
    return seasonal_mann_kendall(daily, "cents")


def q_source_overlap(spark, sf_dir):
    # corpus-lineage matrix: per source pair, shared distinct 3-gram
    # vocabulary + Jaccard — "which shards mirror each other?". Hashes
    # present in > 64 sources are ubiquitous boilerplate and excluded
    # (bounds the per-hash join fan-out at any source count); output is
    # |source pairs| rows.
    from datajudge_spark.pipeline.decontam import source_overlap

    d = _t(spark, sf_dir, "documents")
    return (
        source_overlap(d, "source", "text", shingle_n=_SHINGLE_N)
        .orderBy(F.col("n_shared").desc(), "src_a", "src_b")
        .limit(25)
    )


def q_mann_kendall(spark, sf_dir):
    # nonparametric trend gate on daily revenue: S, tie-corrected
    # Var(S) and the continuity-corrected z — "is there a monotonic
    # trend at all?" before theil_sen says how steep. Pairs on the
    # calendar-bounded daily frame; S and variance terms exact
    # integers; doubles emitted unrounded (fixed expression tree).
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        mann_kendall,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    daily = daily_totals(o, "o_orderdate", F.sum(cents), "cents")
    return mann_kendall(daily, "cents")


def q_sample_stratified(spark, sf_dir):
    # deterministic hash-split audit: per-language totals and kept-counts
    # for a stratified sample (en down-sampled) in ONE conditional-agg
    # pass; membership = md5(doc_id) bucket, stable across partitionings
    from datajudge_spark.pipeline import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample_counts(
        d, "lang", "doc_id", rates={"en": 10}, default_rate=50
    )


def q_source_quality_report(spark, sf_dir):
    # per-source corpus health: pooled fractions from INTEGER sums (one
    # final division) — partition-order-independent, unlike avg(double)
    from datajudge_spark.pipeline import text as T

    return T.source_quality_report(_t(spark, sf_dir, "documents"), "source", "text")


def q_tfidf_top_terms(spark, sf_dir):
    # per-doc top-3 terms by tf*ln(N/df); ranked on the ROUNDED score so
    # cross-engine libm ulp differences cannot flip the order
    from datajudge_spark.pipeline import text as T

    return T.tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


def q_stratum_percentile_trim(spark, sf_dir):
    # per-language p10 length trim: exact group-wise percentile over the
    # per-stratum VALUE HISTOGRAM (window bounded by distinct lengths,
    # not stratum row count), thresholds broadcast back for the audit
    from datajudge_spark.pipeline import sampling

    return sampling.stratified_trim_counts(
        _t(spark, sf_dir, "documents"), "lang", "n_chars", percentage=10.0
    )


def q_chunk_documents(spark, sf_dir):
    # context-window chunking: map-only explode, runs at scan speed
    from datajudge_spark.pipeline import text as T

    return T.chunk_documents(
        _t(spark, sf_dir, "documents"), "doc_id", "text", chunk_tokens=16
    )


def q_text_repetition(spark, sf_dir):
    # Gopher-style repetition filters: dup-token fraction (map-only) +
    # top-bigram fraction via two-level partial agg
    from datajudge_spark.pipeline import text as T

    return T.repetition_signals(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_ngram_topk(spark, sf_dir):
    # corpus-frequency top-20 bigrams: partial-agg explode counts +
    # TakeOrderedAndProject (no global sort)
    from datajudge_spark.pipeline import text as T

    return T.ngram_topk(_t(spark, sf_dir, "documents"), "text", n=2, k=20)


# --------------------------------------------------------------------------
# Multimodal plumbing + as-of join
# --------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    # binary payload -> Arrow-batched mapInPandas metadata decode; the
    # oracle recomputes the same metadata as pure SQL byte arithmetic,
    # verifying the Arrow plumbing delivered exact bytes
    from datajudge_spark.pipeline import multimodal

    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(d, "doc_id", "text")
    return multimodal.decode_media_meta(media)


def q_multimodal_image_meta(spark, sf_dir):
    # dependency-free image HEADER decode (PNM/PNG/BMP/GIF) through the
    # Arrow mapInPandas plumbing: deterministic P6 payloads constructed
    # from doc_id round-trip through the parser; every 7th payload is
    # garbage and must yield the NULL-dimension quality signal
    from datajudge_spark.pipeline import multimodal

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    w = (did % 64 + 1).cast("string")
    h = (did % 48 + 1).cast("string")
    header = F.concat(
        F.lit("P6\n"), w, F.lit(" "), h, F.lit("\n255\n")
    )
    payload = F.when(did % 7 == 0, F.lit("not an image")).otherwise(header)
    media = d.select(
        did.alias("doc_id"), F.encode(payload, "UTF-8").alias("payload")
    )
    return multimodal.decode_image_meta(media)


def q_range_join(spark, sf_dir):
    # clicks landing inside the 2-hour window after a purchase by the
    # same user: point-in-range join via fixed-width epoch buckets —
    # ranges explode to ~1-2 buckets, points own ONE bucket, so it's a
    # plain hash equi-join on (bucket, user) + exact containment filter;
    # never a BroadcastNestedLoopJoin (asserted in test_plans)
    from datajudge_spark.operators.range_join import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_timestamp("ts").alias("p"),
    )
    window_s = 2 * 3600
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("start"),
        (F.unix_timestamp("ts") + window_s).alias("end"),
    )
    joined = range_join(
        clicks, purchases, "p", "start", "end",
        bucket_width=window_s, keys=["user_id"],
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("click_id").alias("sum_click_id"),
        F.sum("purchase_id").alias("sum_purchase_id"),
    )


def q_asof_join_forward(spark, sf_dir):
    # forward as-of: each event enriched with the customer's NEXT order
    # at-or-after the event (same single-shuffle union+window plan,
    # frame direction flipped)
    from datajudge_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(
        ev, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderkey"], direction="forward",
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.sum("o_orderkey").alias("matched_orderkey_sum"),
    )


def q_asof_join(spark, sf_dir):
    # each event enriched with the customer's most recent prior order
    from datajudge_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(
        ev, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderkey"],
    )
    # digest, not raw rows: a 100 TB bench never ships the enriched frame
    # to the driver. The checksum still verifies every matched value
    # against the oracle (any wrong match shifts the sum).
    return out.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.sum("o_orderkey").alias("matched_orderkey_sum"),
    )


# --------------------------------------------------------------------------
# Between-requirement style two-table metrics
# --------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    # per-user session summaries with 30-minute inactivity timeout
    # (gaps-and-islands; streaming analog = F.session_window)
    from datajudge_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("event_ts")
    )
    sess = session_stats(ev, "user_id", "event_ts", "30 minutes")
    # per-user digest (~|users| rows, not ~|sessions|): the second
    # groupBy shares the sessionize shuffle's user_id partitioning
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


def q_row_count_gain(spark, sf_dir):
    # relative row-count gain of lineitem over orders
    # (reference NRowsMaxGain, nrows.py:122-152)
    li = _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n1"))
    o = _t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n2"))
    return li.crossJoin(o).select(
        F.round(F.col("n1") / F.col("n2") - 1.0, 6).alias("gain")
    )


def q_date_growth_rate(spark, sf_dir):
    # date-span ratio of two tables (reference get_date_growth_rate,
    # db_access.py:302-313) used to derive gain tolerances
    li = _t(spark, sf_dir, "lineitem").agg(
        F.datediff(
            F.max(F.col("l_shipdate")).cast("date"),
            F.min(F.col("l_shipdate")).cast("date"),
        ).alias("s1")
    )
    o = _t(spark, sf_dir, "orders").agg(
        F.datediff(
            F.max(F.col("o_orderdate")).cast("date"),
            F.min(F.col("o_orderdate")).cast("date"),
        ).alias("s2")
    )
    return li.crossJoin(o).select(
        F.round(F.col("s1") / F.col("s2") - 1.0, 6).alias("growth")
    )


def q_uniques_subset_violation(spark, sf_dir):
    # weighted violation fraction of "every l_suppkey is a known supplier
    # with positive acctbal" (reference uniques.py:214-257 weighted mode)
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 1000)
    viol = li.join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("nv"))
    total = li.agg(F.count(F.lit(1)).alias("nt"))
    return viol.crossJoin(total).select(
        F.round(F.col("nv") / F.col("nt"), 6).alias("violation_fraction")
    )


def q_topk_revenue(spark, sf_dir):
    # TPC-H Q3 shape: selective dim filter -> fact joins -> grouped
    # revenue -> top-10. orderBy().limit() compiles to
    # TakeOrderedAndProject: per-partition heaps + driver merge, never a
    # global sort (asserted in test_plans). Revenue summed as
    # DECIMAL(18,2) so the top-k selection is exact and engine-agnostic;
    # l_orderkey tiebreak makes the row set deterministic.
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= "1998-01-01")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,2)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_rollup_agg(spark, sf_dir):
    # hierarchical totals in one pass: ROLLUP(returnflag, linestatus)
    # with grouping_id disambiguating subtotal levels (reference has no
    # grouping sets, SURVEY §2.4 — extension surface)
    from datajudge_spark.pipeline._util import spread

    li = _t(spark, sf_dir, "lineitem")
    # grouping-set expansion + decimal partial agg is fused-scan CPU
    # work; a single-file scan runs it on 1-3 tasks — project narrow and
    # spread (no-op at corpus scale).  Measured 1.26 -> 0.76 s at sf0.1.
    src = spread(li.select("l_returnflag", "l_linestatus", "l_quantity"))
    return src.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 6)
        .alias("sum_qty"),
    )


def q_pivot_agg(spark, sf_dir):
    # wide-format aggregation: one row per returnflag, one revenue column
    # per linestatus (explicit value list keeps the schema static —
    # required both at 100 TB, where value discovery would be a full
    # extra scan, and for a stable driver contract)
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
                6,
            )
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
    )


def q_shard_shuffle(spark, sf_dir):
    # deterministic pre-training corpus shuffle: (doc, shard, position)
    # as a pure function of doc_id (md5 key) — stable across
    # partitionings/re-materializations; one shuffle, per-shard windows
    from datajudge_spark.pipeline.packing import shard_shuffle

    return shard_shuffle(_t(spark, sf_dir, "documents"), "doc_id", n_shards=8)


def q_pack_sequences(spark, sf_dir):
    # GPT-style concat-then-split packing: documents in shard-shuffle
    # order; pack id/offset from a per-shard running token total (one
    # window pass, no iteration, no driver state)
    from datajudge_spark.pipeline.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=8)


def q_redact_terms(spark, sf_dir):
    # denylist scrubbing (same machinery as PII redaction): count + md5
    # digest of the rewritten text — map-only, the scrubbed corpus is
    # written at scale, never collected
    from datajudge_spark.pipeline.text import redact_terms

    return redact_terms(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        r"\b(customer|supplier)\b",
        "<TERM>",
    )


def q_embedding_quantize(spark, sf_dir):
    # int8 symmetric quantization of L2-normalized vectors; exact integer
    # checksum sum((i+1)*q_i) verifies every component cross-engine
    from datajudge_spark.pipeline.similarity import quantize_embeddings

    return quantize_embeddings(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding")


def q_multimodal_resize(spark, sf_dir):
    # binary resize stand-in (stride-subsample to 64 bytes) through the
    # Arrow mapInPandas path; digest = (len, md5) of the resized payload,
    # recomputed by the oracle with pure byte arithmetic
    from datajudge_spark.pipeline import multimodal

    media = multimodal.attach_binary_payload(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    out = multimodal.resize_payload(media, target_bytes=64)
    return out.select(
        "doc_id",
        "n_bytes",
        F.octet_length("resized").cast("bigint").alias("resized_len"),
        F.md5("resized").alias("resized_md5"),
    )


def q_multimodal_frames(spark, sf_dir):
    # frame-sampling stand-in (16-byte frames, keep every 4th): the 1:N
    # row-expansion shape of video frame extraction, digested per frame
    from datajudge_spark.pipeline import multimodal

    media = multimodal.attach_binary_payload(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    out = multimodal.sample_frames(media, frame_bytes=16, every_nth=4)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.octet_length("frame").cast("bigint").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


def q_text_unigram_logprob(spark, sf_dir):
    # CCNet-style quality proxy: per-doc mean -ln p(token) under the
    # corpus's own Laplace-smoothed unigram LM; two partial-agg token
    # passes + broadcast totals, integer-weighted fold (one division)
    from datajudge_spark.pipeline.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_dedup_editdistance(spark, sf_dir):
    # edit-distance near-dup pairs: prefix-blocked equi-join (never a
    # cross product), length-difference lower bound, Levenshtein over a
    # bounded compare window; digest = pair rows (d1, d2, distance)
    from datajudge_spark.pipeline.dedup import edit_distance_pairs

    d = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(
        d, "doc_id", "text", max_distance=5,
        prefix_chars=16, compare_chars=256,
    )


def q_categorical_entropy(spark, sf_dir):
    # Shannon entropy / HHI / top-share of the event_type distribution —
    # the "is this key skewed?" digest. Computed via c-sum identities
    # (entropy = ln N - sum(c ln c)/N): one count shuffle + one folded
    # agg, no per-key share materialization, no window
    from datajudge_spark.operators.profile import distribution_stats

    return distribution_stats(_t(spark, sf_dir, "events"), "event_type")


def q_key_skew(spark, sf_dir):
    # same diagnostics on a HIGH-cardinality join key (l_orderkey):
    # hhi ~ 1/n_distinct -> uniform, top_share ~ 1 -> salt the join
    from datajudge_spark.operators.profile import distribution_stats

    return distribution_stats(_t(spark, sf_dir, "lineitem"), "l_orderkey")


def q_salted_join_agg(spark, sf_dir):
    # skew-resistant fact-dim join: large side salted 8 ways on a
    # deterministic row hash, dim exploded x8, join on (key, salt) —
    # splits any hot key across 8 reducers. Result must be value-equal
    # to the plain join (the oracle IS the plain join).
    from datajudge_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on="l_orderkey", num_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double"),
                2,
            ).alias("revenue"),
        )
    )


def q_moving_avg_daily(spark, sf_dir):
    # 7-day trailing moving average + day-over-day delta of order
    # revenue. The ordered window runs on the DAILY frame (|distinct
    # dates| rows, calendar-bounded), never the fact table. Revenue in
    # integer cents: every window input is exact, so avg/lag are
    # bit-deterministic across engines and partition orders.
    from datajudge_spark.operators.timeseries import daily_totals, moving_stats

    o = _t(spark, sf_dir, "orders")
    cents = (
        F.sum(_cents("o_totalprice"))
    )
    daily = daily_totals(o, "o_orderdate", cents, alias="cents")
    out = moving_stats(daily, "cents", window_days=7)
    # digest the moving average as its exact integer numerator +
    # denominator: rounding avg-of-cents (~1.5e9) at 6 decimals sits ON
    # double's ulp boundary, where engines legitimately disagree
    return out.select(
        "day",
        F.col("cents").alias("total_cents"),
        F.col("moving_sum").alias("moving_sum_cents"),
        "window_n",
        F.col("delta").alias("delta_cents"),
    )


def q_value_histogram(spark, sf_dir):
    # fixed-bucket histogram of lineitem prices: the basic distribution
    # digest (shares value_bucket with the PSI drift operators) — one
    # partial-agg'd count shuffle, n_buckets rows out
    from datajudge_spark.operators.stats import value_bucket

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_extendedprice").isNotNull())
        .groupBy(
            value_bucket("l_extendedprice", 0.0, 120000.0, 12).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_funnel_conversion(spark, sf_dir):
    # ordered funnel click -> purchase per user: a user converts when
    # their first purchase follows their first click. Two conditional
    # min-aggregates in ONE scan (no self-join), then a 1-row digest
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t2"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_clicked"),
        F.count(F.when(F.col("t2") > F.col("t1"), 1)).alias("n_converted"),
    )


def q_cohort_retention(spark, sf_dir):
    # weekly cohort retention matrix over the event log: per-user min
    # (partial-agg) x distinct (user, week) activity, joined on the
    # already-shuffled user key; output is |cohorts| x |weeks| rows
    from datajudge_spark.operators.timeseries import cohort_retention

    ev = _t(spark, sf_dir, "events")
    out = cohort_retention(ev, "user_id", "ts", "week")
    # week boundaries as DATE: Spark date_trunc yields timestamp,
    # DuckDB yields date — normalize the digest
    return out.select(
        F.col("cohort").cast("date").alias("cohort"),
        F.col("period").cast("date").alias("period"),
        "n_users",
    )


def q_psi_drift(spark, sf_dir):
    # production drift metric: PSI between the click and view value
    # distributions over fixed buckets, BOTH histograms from one
    # conditional-agg scan (asserted in test_plans); Laplace-smoothed so
    # empty buckets stay finite and deterministic
    from datajudge_spark.operators.stats import psi_drift_conditional

    ev = _t(spark, sf_dir, "events")
    return psi_drift_conditional(
        ev,
        "value",
        F.col("event_type") == "click",
        F.col("event_type") == "view",
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    )


def q_profile_table(spark, sf_dir):
    # one-scan per-column profile of lineitem numerics (count / nulls /
    # exact distinct / min / max / decimal-exact mean) — N statistics in
    # ONE pass where the reference issues one query per statistic
    from datajudge_spark.operators.profile import profile_numeric

    li = _t(spark, sf_dir, "lineitem")
    return profile_numeric(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_corr_matrix(spark, sf_dir):
    # all pairwise Pearson correlations in one aggregate (one-pass
    # co-moments, no joins, no second scan)
    from datajudge_spark.operators.profile import pairwise_corr

    li = _t(spark, sf_dir, "lineitem")
    return pairwise_corr(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_grouped_topk(spark, sf_dir):
    # 3 longest documents per source: row_number()<=k compiles to
    # WindowGroupLimit — per-partition heaps BEFORE the shuffle, so the
    # exchange carries O(sources*k) rows (asserted in test_plans)
    from datajudge_spark.operators.profile import grouped_topk

    d = _t(spark, sf_dir, "documents")
    out = grouped_topk(
        d.select("doc_id", "source", "n_chars"),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        3,
    )
    return out.select(
        "source", F.col("rk").cast("bigint").alias("rk"), "doc_id", "n_chars"
    )


def q_mixture_weights(spark, sf_dir):
    # temperature-scaled (alpha=0.5) per-source sampling weights for a
    # multi-source training mix; corpus-size work is one partial-agg count
    from datajudge_spark.pipeline.sampling import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"), "source", alpha=0.5)


def q_train_val_split(spark, sf_dir):
    # leakage-safe split audit: whole sources assigned to train/val by
    # stable md5 bucket, so near-dups inside a source never straddle the
    # split; digest = per-split rows, sources, and total chars
    from datajudge_spark.pipeline.sampling import group_split_counts

    d = _t(spark, sf_dir, "documents")
    return group_split_counts(
        d,
        "source",
        val_rate=10,
        agg_cols={"n_chars_sum": F.sum("n_chars")},
    )


def q_streaming_windowed_counts(spark, sf_dir):
    """Structured Streaming contract query (SURVEY §2.9 extension): a
    file-stream over the events table -> watermarked 1-day tumbling-window
    counts per event_type -> memory sink, drained with
    ``trigger(availableNow=True)``. Complete output mode emits every
    window exactly once when the stream drains, so the final state is
    deterministic and equals the batch GROUP BY — which is exactly the
    oracle SQL. State is (window x event_type) rows only; at scale the
    watermark bounds it regardless of stream length."""
    from datajudge_spark.streaming import StreamScope, windowed_counts

    # 4 state stores (the scope's default): (window x type) state is
    # tiny here, and each HDFS-backed store has a fixed init/commit cost
    # (measured at sf0.1: 4-29 s at 32 stores, ~1.5 s at 8, ~0.8 s at 4
    # — the floor is store machinery, not data)
    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).withColumn(
            "event_ts", F.col("ts").cast("timestamp")
        )
        out = windowed_counts(
            ev,
            "event_ts",
            window_duration="1 day",
            watermark_delay="1 hour",
            group_cols=["event_type"],
        )
        # UTC session => 1-day tumbling windows are UTC-midnight aligned,
        # matching DuckDB date_trunc('day'); cast start to DATE.
        return scope.collect(
            out,
            "complete",
            lambda sink: sink.select(
                F.col("window_start").cast("date").alias("day"),
                "event_type",
                "n_rows",
            ),
        )


# --------------------------------------------------------------------------
# round 3: OLAP cube / heavy hitters / snapshot compaction / sketch checks
# --------------------------------------------------------------------------

def q_cube_agg(spark, sf_dir):
    # full CUBE(returnflag, linestatus): all 4 grouping sets in one pass,
    # grouping_id disambiguating subtotal levels (extends rollup_agg —
    # reference has no grouping sets, SURVEY §2.4)
    from datajudge_spark.pipeline._util import spread

    li = _t(spark, sf_dir, "lineitem")
    # same fused-scan spread as rollup_agg (CUBE expands x4 per row);
    # measured 1.50 -> 1.00 s at sf0.1, values identical
    src = spread(li.select("l_returnflag", "l_linestatus", "l_quantity"))
    return src.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_qty"),
    )


def q_heavy_hitters(spark, sf_dir):
    # exact heavy hitters: customers holding >= 0.1% of all orders.
    # Integer-exact threshold (n * 1e6 >= total * ppm) — never a double
    # boundary; one partial-agg shuffle + broadcast 1-row total.
    from datajudge_spark.operators.olap import heavy_hitters

    o = _t(spark, sf_dir, "orders")
    return heavy_hitters(o, ["o_custkey"], min_share_ppm=1000)


def q_latest_snapshot(spark, sf_dir):
    # CDC-style log compaction: latest order per customer (row_number=1
    # with a total order), digested to a 1-row checksum. WindowGroupLimit
    # prunes to 1 row/key map-side before the exchange (test_plans).
    from datajudge_spark.operators.olap import latest_snapshot

    o = _t(spark, sf_dir, "orders")
    snap = latest_snapshot(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(_cents("o_totalprice"))
        .alias("total_cents"),
    )


def q_profile_drift(spark, sf_dir):
    # between-snapshot column-profile drift report: early vs late
    # shipping halves of lineitem, three numeric columns, one
    # profile_numeric scan per side — the multi-column generalization
    # of the reference's Between mean/uniques deviation gates
    from datajudge_spark.operators.profile import profile_drift

    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1997-01-01").cast("date")
    return profile_drift(
        li.where(F.col("l_shipdate").cast("date") < cut),
        li.where(F.col("l_shipdate").cast("date") >= cut),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


def q_bloom_filter_check(spark, sf_dir):
    # Bloom semi-join reduction contract: filter built over customers
    # with a first-year order, probed with ALL customers, bounded
    # against the true membership join — no-false-negatives guaranteed
    # structurally, false positives counted EXACTLY (md5 hash family,
    # oracle reproduces the bitmap bit-for-bit)
    from datajudge_spark.operators.olap import bloom_filter_check

    from datajudge_spark.pipeline._util import spread

    o = spread(_t(spark, sf_dir, "orders")).where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_custkey").cast("bigint").alias("custkey"))
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("custkey")
    )
    return bloom_filter_check(o, "custkey", c, "custkey")


def q_countmin_check(spark, sf_dir):
    # count-min sketch (4x256, md5-derived hash family) bounded against
    # the exact top-5 — fully deterministic, so the oracle reproduces
    # the sketch counters bit-for-bit and the contract is a whole-row
    # value match including the exact overestimate
    from datajudge_spark.operators.olap import countmin_check

    from datajudge_spark.pipeline._util import spread

    # single-file local scans land in one partition, which would
    # serialize the per-row double-md5 work; no-op at multi-file scale
    li = spread(_t(spark, sf_dir, "lineitem")).select(
        F.col("l_suppkey").cast("bigint").cast("string").alias("supp")
    )
    return countmin_check(li, "supp", depth=4, width=256, k=5)


def q_approx_topk_check(spark, sf_dir):
    # frequent-items sketch (approx_top_k) bounded against the exact
    # top-k heavy hitters in one cube() scan — completes the
    # sketch-contract family (HLL distinct, KLL percentile, top-k).
    # max_items_tracked=16384 >= supplier cardinality through sf1, so
    # the sketch runs exact-mode and both booleans are guaranteed.
    from datajudge_spark.operators.olap import approx_top_k_check

    li = _t(spark, sf_dir, "lineitem")
    out = approx_top_k_check(li, "l_suppkey", k=5)
    return out.withColumn("item", F.col("item").cast("bigint"))


def q_approx_distinct_check(spark, sf_dir):
    # HLL++ sketch vs exact COUNT DISTINCT: the 100 TB substitute for an
    # exact distinct, bounded against the exact answer (3x rsd tolerance).
    # HLL register-merge is order-insensitive => deterministic result.
    from datajudge_spark.operators.olap import approx_distinct_check

    li = _t(spark, sf_dir, "lineitem")
    return approx_distinct_check(li, "l_orderkey", rel_tol=0.15)


def q_streaming_dedup(spark, sf_dir):
    """Second Structured Streaming contract query: file-stream ->
    watermarked ``dropDuplicatesWithinWatermark`` on (user_id,
    event_type) -> append memory sink, drained with availableNow. The
    digest aggregates only key columns (which survivor row is kept is
    arrival-order-dependent; the key set is not), so the final state
    equals batch SELECT DISTINCT — the oracle. State at scale is bounded
    by the watermark horizon, not |keys ever seen|."""
    from datajudge_spark.streaming import StreamScope, streaming_dedup

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).withColumn(
            "event_ts", F.col("ts").cast("timestamp")
        )
        deduped = streaming_dedup(
            ev, ["user_id", "event_type"], "event_ts", watermark_delay="1 hour"
        )
        return scope.collect(
            deduped,
            "append",
            lambda sink: sink.agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("user_id").cast("bigint").alias("user_checksum"),
                F.count_distinct("event_type").alias("n_types"),
            ),
        )


def q_streaming_sessionize(spark, sf_dir):
    """Third streaming contract query: native ``session_window``
    aggregation (30-min inactivity merge) drained with availableNow in
    complete mode — the final session set equals the batch
    gaps-and-islands sessionization, so the oracle is q_sessionize's SQL.
    Boundary note: session_window merges on gap < 30 min (strict), the
    batch rewrite on gap <= 30 min; microsecond event times make an
    exactly-1800.000000 s gap a measure-zero case (none in the corpus,
    verified by the oracle hash). State is O(open sessions) bounded by
    the inactivity gap at scale."""
    from datajudge_spark.streaming import StreamScope

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).withColumn(
            "event_ts", F.col("ts").cast("timestamp")
        )
        sess = ev.groupBy(
            F.session_window("event_ts", "30 minutes"), F.col("user_id")
        ).agg(F.count(F.lit(1)).alias("n_events"))
        return scope.collect(
            sess,
            "complete",
            lambda sink: sink.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.max("n_events").alias("max_session_events"),
            ),
        )


def q_streaming_stateful_counts(spark, sf_dir):
    """Fourth streaming contract query: a CUSTOM stateful operator
    (``applyInPandasWithState``) maintaining cumulative per-user
    (n_rows, n_nulls) — state is two integers per key. Drained with
    availableNow; the per-key FINAL state (max of cumulative emissions,
    robust to multi-batch splits) must equal the batch GROUP BY — the
    oracle. Values < 1.0 are nullified upstream to model dirty data."""
    from datajudge_spark.streaming import StreamScope, stateful_running_counts

    def digest(sink):
        final = sink.groupBy("key").agg(
            F.max("n_rows").alias("n_rows"), F.max("n_nulls").alias("n_nulls")
        )
        return final.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.sum("n_nulls").cast("bigint").alias("total_nulls"),
            F.max("n_rows").alias("max_user_rows"),
        )

    # 8 stores, not 4: unlike the 5-key cusum/zscore drains this op
    # groups ~|users| keys through Python workers, and the per-key
    # pandas work outweighs the extra store init (A/B min-of-3:
    # 2.20 / 1.75 / 1.35 s at 2 / 4 / 8 partitions)
    with StreamScope(spark, state_stores=8, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).withColumn(
            "v", F.when(F.col("value") >= 1.0, F.col("value"))
        )
        counts = stateful_running_counts(ev, "user_id", "v")
        return scope.collect(counts, "update", digest)


def q_streaming_cusum(spark, sf_dir):
    """Sixth streaming contract query: CUSUM changepoint drift gate as a
    CUSTOM stateful operator (``applyInPandasWithState``) — per
    event_type, the day where cumulative deviation from the series mean
    peaks.  State = per-key daily cent histogram (calendar-bounded).
    The drained final state (row with max n_obs per key — strictly
    increasing per emission) must hash-equal the batch per-key CUSUM,
    the oracle.  Cents are cast JVM-side (decimal(18,2) HALF_UP) so the
    Python fold only ever sums exact integers."""
    from datajudge_spark.streaming import StreamScope, stateful_cusum

    with StreamScope(spark, watermark_flush=False) as scope:
        digests = stateful_cusum(_day_cents_stream(scope, sf_dir))
        return scope.collect(
            digests,
            "update",
            lambda sink: _final_state_per_key(
                sink, "n_obs", "n_days", "change_day", "cusum_max"
            ),
        )


def q_streaming_zscore(spark, sf_dir):
    """Streaming contract query: rolling z-score spike gate as a CUSTOM
    stateful operator (``applyInPandasWithState``) — per event_type,
    how many days spiked beyond |z| > 2 against their 7-preceding-day
    baseline, and the worst spike.  State = per-key daily cent
    histogram (calendar-bounded).  The drained final state must
    hash-equal the batch rolling-window oracle: the Python fold uses
    the SAME exact-integer window sums and the SAME one-double z
    expression as ``operators.timeseries.zscore_anomalies``."""
    from datajudge_spark.streaming import StreamScope, stateful_zscore

    with StreamScope(spark, watermark_flush=False) as scope:
        digests = stateful_zscore(
            _day_cents_stream(scope, sf_dir), window_days=7, threshold=2.0
        )
        return scope.collect(
            digests,
            "update",
            lambda sink: _final_state_per_key(
                sink, "n_obs", "n_days", "n_anomalies", "max_abs_z"
            ),
        )


def q_streaming_psi_buckets(spark, sf_dir):
    """Seventh streaming contract query: the streaming half of PSI
    drift monitoring — watermarked per-day fixed-bucket value
    histograms (``windowed_value_buckets``), drained with availableNow.
    Complete-mode drain emits every (window, bucket) once; the digest
    equals the batch GROUP BY over the SAME pure-arithmetic bucket
    expression (``operators.stats.value_bucket``) — the oracle.  State
    is (window x n_buckets) counters bounded by the watermark."""
    from datajudge_spark.streaming import StreamScope, windowed_value_buckets

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).withColumn(
            "event_ts", F.col("ts").cast("timestamp")
        )
        out = windowed_value_buckets(
            ev, "event_ts", "value", lo=0.0, hi=500.0, n_buckets=10,
            window="1 day", watermark="1 hour",
        )
        return scope.collect(
            out,
            "complete",
            lambda sink: sink.select(
                F.col("win.start").cast("date").alias("day"),
                "bucket",
                F.col("n").cast("bigint").alias("n"),
            ),
        )


def q_embedding_norm_stats(spark, sf_dir):
    # per-label L2-norm health check before cosine dedup/ANN: map-only
    # fold + one partial-agg'd shuffle. Per-row norm is the standard
    # left-to-right double fold rounded to 6dp; the mean is a
    # decimal-exact sum over the rounded norms (partition-order-proof).
    from datajudge_spark.pipeline.similarity import norm_stats

    emb = _t(spark, sf_dir, "embeddings")
    return norm_stats(emb, "embedding", "label")


def q_srp_signature_hist(spark, sf_dir):
    # signed-random-projection signatures (6 Rademacher hyperplanes from
    # md5 — no RNG state, reproducible in any engine): the corpus
    # geometry fingerprint AND the LSH bucketing a cosine ANN would
    # shuffle on at 100 TB. Map-only pass, <= 64 grouping keys.
    from datajudge_spark.pipeline.similarity import srp_signature_hist

    emb = _t(spark, sf_dir, "embeddings")
    return srp_signature_hist(emb, "embedding", n_planes=6, dim=64)


def q_scd2_intervals(spark, sf_dir):
    # SCD2 construction: turn a change-event log into validity intervals
    # [valid_from, valid_to) per key with lead() over (ts, id-tiebreak),
    # digested per event_type. The window partitions by user — each
    # key's history sorts locally after ONE shuffle; no global sort.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.count(F.when(F.col("valid_to").isNull(), 1)).alias("n_open"),
        # exact integer microseconds (a seconds cast truncates, and
        # truncation semantics differ per engine)
        F.sum(
            F.unix_micros(F.col("valid_to").cast("timestamp"))
            - F.unix_micros(F.col("valid_from").cast("timestamp"))
        ).cast("bigint").alias("dur_us_sum"),
    )


def q_snapshot_diff(spark, sf_dir):
    # CDC-style snapshot compare: added/removed/changed/unchanged key
    # counts between two versions of a table in ONE full-outer join on
    # the key (single shuffle; no row ever reaches the driver). Old/new
    # are deterministic slices of orders with a deterministic mutation,
    # so the oracle reproduces them exactly.
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    old = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        price.alias("price_old"),
        F.col("o_orderstatus").alias("status_old"),
    )
    new = o.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, price + 1)
        .otherwise(price)
        .alias("price_new"),
        F.col("o_orderstatus").alias("status_new"),
    )
    from datajudge_spark.operators.diff import snapshot_diff_counts

    return snapshot_diff_counts(
        old.withColumnsRenamed({"price_old": "price", "status_old": "status"}),
        new.withColumnsRenamed({"price_new": "price", "status_new": "status"}),
        ["o_orderkey"],
        ["price", "status"],
    )


def q_incremental_daily_merge(spark, sf_dir):
    # incremental-refresh correctness: a "materialized" daily aggregate
    # of the history partition UNIONed with a fresh aggregate of the
    # delta partition, then combined — must equal the full one-shot
    # aggregate (the oracle). The pattern that avoids rescanning 100 TB
    # of history every day; both branches are partial-agg'd and the
    # combine shuffles |days| rows, not raw rows.
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp_ntz")
    cents = (
        F.sum(_cents("value"))
    )
    hist = (
        ev.where(F.col("ts") < cutoff)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(cents.alias("cents"), F.count(F.lit(1)).alias("n_rows"))
    )
    delta = (
        ev.where(F.col("ts") >= cutoff)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(cents.alias("cents"), F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        hist.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
    )


def q_srp_neardup_pairs(spark, sf_dir):
    # unsupervised near-dup: SRP-LSH bucketing (no label needed) ->
    # cosine only WITHIN buckets. The 100 TB path: shuffle on the 6-bit
    # signature, never an all-pairs join. Recall note: one 6-plane table
    # catches highly-similar pairs; production would union 2-3 plane
    # seeds for recall, same plan shape. Threshold 0.3: the synthetic
    # embeddings contain no true near-dups (max pairwise cos ~0.4), so a
    # dedup-grade 0.9 cut would make the contract query vacuously empty.
    from datajudge_spark.pipeline.similarity import (
        near_dup_pairs,
        srp_planes,
        srp_signature,
    )

    emb = _t(spark, sf_dir, "embeddings")
    planes = srp_planes(64, 6)
    vecs = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vvec"),
        srp_signature("embedding", planes).alias("sig"),
    )
    return near_dup_pairs(vecs, "sig", threshold=0.3, v_id="vid", v_vec="vvec")


def q_ivf_neardup_pairs(spark, sf_dir):
    # near-dup blocking for HIGH-dim embeddings: IVF cells (multi-probe,
    # nprobe=2) instead of SRP signatures — trained cells track density
    # where fixed hyperplane bits decay with dimension. Centroids here
    # are the first 8 vectors (deterministic => oracle-expressible);
    # production trains them with kmeans_centroids, same plan shape.
    # Threshold 0.3 for the same reason as srp_neardup_pairs: the
    # synthetic embeddings have no dedup-grade pairs (max cos ~0.4).
    from datajudge_spark.pipeline.similarity import near_dup_pairs_ivf

    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vvec")
    )
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    return near_dup_pairs_ivf(vecs, cent, threshold=0.3, nprobe=2)


def q_ivf_neardup_recall(spark, sf_dir):
    # the blocking quality gate: IVF-blocked pair set measured against
    # exact brute-force ground truth on a bounded deterministic subset
    # (vec_id < 400) — the recall_at_k analog for dedup blocking. One
    # digest row (n_true, n_found, n_hit, recall).
    from datajudge_spark.pipeline.similarity import (
        cosine,
        near_dup_pairs_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.where(F.col("vec_id") < 400)
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    a = sub.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("_v1"))
    b = sub.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("_v2"))
    truth = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select("d1", "d2", cosine("_v1", "_v2").alias("cos"))
        .where(F.col("cos") > 0.3)
        .select("d1", "d2")
    )
    found = near_dup_pairs_ivf(
        sub.select(
            F.col("vec_id").alias("vid"), F.col("embedding").alias("vvec")
        ),
        cent,
        threshold=0.3,
        nprobe=2,
    ).select("d1", "d2")
    joined = truth.withColumn("__t", F.lit(1)).join(
        found.withColumn("__f", F.lit(1)), ["d1", "d2"], "full_outer"
    )
    return joined.agg(
        F.count("__t").cast("bigint").alias("n_true"),
        F.count("__f").cast("bigint").alias("n_found"),
        F.count(F.when(F.col("__t").isNotNull() & F.col("__f").isNotNull(), 1))
        .cast("bigint")
        .alias("n_hit"),
        F.round(
            F.when(
                F.count("__t") > 0,
                F.count(
                    F.when(
                        F.col("__t").isNotNull() & F.col("__f").isNotNull(),
                        1,
                    )
                ).cast("double")
                / F.count("__t"),
            ),
            6,
        ).alias("recall"),
    )


def q_vocab_stats(spark, sf_dir):
    # corpus vocabulary health: total/distinct/hapax token counts and
    # Zipf-tail ratios in one explode + token groupBy (map-side
    # partials; only distinct tokens shuffle).
    from datajudge_spark.pipeline.text import vocab_stats

    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, "text")


def q_bm25_topk(spark, sf_dir):
    # corpus retrieval: Okapi BM25 top-10 documents for a fixed query
    # bag.  The query-term filter prunes the exploded tokens BEFORE the
    # (doc, term) shuffle; df and (N, avgdl) broadcast; per-term scores
    # round at 1e-6 and sum as bigint (order-independent); top-10 is
    # TakeOrderedAndProject.
    from datajudge_spark.pipeline.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", ["hash", "vector", "stream"], k=10
    )


def q_hybrid_rrf_topk(spark, sf_dir):
    # hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    # ranking and the dense cosine ranking for doc/vec 0 (ids are
    # aligned in the synthetic corpus).  Both inputs are bounded top-50
    # lists, so the ranking windows and full-outer fuse are trivially
    # small; the heavy work (token shuffle, cosine scan) happened in
    # the sources.  RRF constant 60 per Cormack et al. (SIGIR 2009).
    from datajudge_spark.pipeline.similarity import (
        rrf_fuse,
        topk_bruteforce,
    )
    from datajudge_spark.pipeline.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, "doc_id", "text", ["hash", "vector", "stream"], k=50
    )
    # rank the 50-row lexical list (bounded window, not corpus-scale)
    wl = Window.orderBy(F.desc("score_e6"), F.asc("doc_id"))
    lex_r = lex.select(
        F.col("doc_id").alias("id"), F.row_number().over(wl).alias("rank")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    dense_r = topk_bruteforce(q, c, k=50).select(
        F.col("cid").alias("id"), F.col("rn").alias("rank")
    )
    return rrf_fuse([lex_r, dense_r], k=10).select(
        F.col("id").alias("doc_id"),
        "rrf",
        F.col("rank_0").alias("lex_rank"),
        F.col("rank_1").alias("dense_rank"),
    )


def q_density_core_points(spark, sf_dir):
    # density classification for dedup: per-vector neighbor counts over
    # the cell-blocked similarity graph, core/border/isolated verdicts.
    # Same deterministic first-8 centroids as the ivf_neardup family.
    from datajudge_spark.pipeline.similarity import density_core_points

    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vvec")
    )
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    return density_core_points(
        vecs, cent, threshold=0.3, min_neighbors=2, nprobe=2
    ).orderBy("vid")


def q_grouped_heavy_hitters(spark, sf_dir):
    # per-source language dominance: which languages hold >=10% of each
    # source's documents — the corpus-mix dashboard digest. One (group,
    # key) shuffle; group totals re-aggregate the counts frame and join
    # back co-partitioned; integer-exact ppm cut.
    from datajudge_spark.operators.olap import grouped_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return grouped_heavy_hitters(
        docs, "source", "lang", min_share_ppm=100_000
    ).orderBy("source", "lang")


def q_weighted_sample(spark, sf_dir):
    # fixed-size weighted corpus sample (Efraimidis-Spirakis A-Res with
    # md5-derived uniforms): longer documents proportionally more
    # likely, zero RNG state — the re-materialization-stable sampler a
    # training pipeline needs. TakeOrderedAndProject, no global sort.
    from datajudge_spark.pipeline.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, "doc_id", "n_chars", k=50
    ).withColumnRenamed("key", "doc_id")


def q_pareto_frontier(spark, sf_dir):
    # 2-D skyline over lineitem: the non-dominated (price, quantity)
    # tradeoffs — cheapest price per quantity level and better. The
    # sweep-line runs as the bucketed running max (window partitioned
    # by range bucket + driver-folded exclusive prefix offsets), never
    # a global sort; one shuffle over distinct cent pairs.
    from datajudge_spark.operators.olap import skyline_2d

    li = _t(spark, sf_dir, "lineitem").select(
        _cents("l_extendedprice")
        .alias("price_cents"),
        _cents("l_quantity")
        .alias("qty_cents"),
    )
    return skyline_2d(
        li, "price_cents", "qty_cents", minimize_x=True, maximize_y=True
    ).orderBy("price_cents")


def q6_forecast_revenue(spark, sf_dir):
    # TPC-H Q6: the canonical single-scan filtered aggregate — every
    # predicate pushes to the parquet scan, no shuffle beyond the final
    # 1-row combine. Revenue exact in decimal, digested at scale 4.
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q12_shipmode_priority(spark, sf_dir):
    # TPC-H Q12 shape: fact-fact hash join + per-group conditional
    # counts. The synthetic lineitem has no shipmode/receiptdate, so
    # l_returnflag plays the mode column and "late" = shipped >30 days
    # after the order date (the q4/q21 substitution).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag",
        F.col("l_shipdate").cast("date").alias("__ship"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("__od"),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("__ship") > F.date_add(F.col("__od"), 30))
            & (F.col("__ship") >= F.lit("1996-01-01"))
            & (F.col("__ship") < F.lit("1997-01-01"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q13_customer_order_counts(spark, sf_dir):
    # TPC-H Q13: LEFT OUTER join + two-level aggregation — the count
    # DISTRIBUTION (how many customers placed k orders, including k=0,
    # which an inner join would silently drop). The priority exclusion
    # stands in for the comment NOT LIKE filter.
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q15_top_supplier(spark, sf_dir):
    # TPC-H Q15: the revenue "view" + scalar MAX join-back — suppliers
    # achieving the quarter's maximum revenue. The 1-row max broadcasts
    # (never a sort), revenue is decimal-exact at scale 4 so the
    # equality join-back cannot miss by one ulp.
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg((F.sum(rev) * 10000).cast("bigint").alias("total_rev_e4"))
    )
    mx = revenue.agg(F.max("total_rev_e4").alias("__mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev_e4") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


def q16_supplier_part_counts(spark, sf_dir):
    # TPC-H Q16 shape: DISTINCT supplier count per part-attribute group,
    # with an ANTI-joined supplier exclusion set. partsupp is replaced
    # by the distinct (partkey, suppkey) pairs observed in lineitem;
    # "complaint" suppliers = negative account balance (deterministic).
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#21")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            "p_brand", "p_type", "p_size",
        )
    )


def q17_small_quantity_revenue(spark, sf_dir):
    # TPC-H Q17: correlated per-part AVG subquery, decorrelated to one
    # aggregate join-back — revenue of lineitems with quantity below
    # 20% of their part's average. The threshold compares INTEGER-exact
    # (qty < sum/(5n)  <=>  5*qty_cents*n < sum_cents: no double avg,
    # no ulp boundary), and the brand filter broadcasts below both the
    # aggregate and the probe, so only that brand's rows ever shuffle.
    pf = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_extendedprice",
        _cents("l_quantity")
        .alias("__qc"),
    )
    branded = li.join(
        F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    stats = branded.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("__qc").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return (
        branded.join(stats, F.col("l_partkey") == F.col("__pk"))
        .where(F.col("__qc") * 5 * F.col("__n") < F.col("__s"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("revenue_e2"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_shipping_priority_topk(spark, sf_dir):
    # TPC-H Q3 shape: two selective joins + grouped revenue + top-10.
    # Revenue in exact decimal (price and discount are 2dp decimals, so
    # products/sums commute), digested to an integer at scale 4; the
    # ORDER BY carries the orderkey tiebreak so the top-10 SET is
    # deterministic. orderBy+limit compiles to TakeOrderedAndProject.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    # timestamp-literal comparisons (not cast(col as date)) so the
    # predicates push down to the parquet scan
    ship_lo = F.lit("1995-03-16 00:00:00").cast("timestamp_ntz")
    ord_hi = F.lit("1995-03-15 00:00:00").cast("timestamp_ntz")
    return (
        li.where(F.col("l_shipdate") >= ship_lo)
        .join(
            o.where(F.col("o_orderdate") < ord_hi),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_date"))
        .agg((F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_revenue_by_nation(spark, sf_dir):
    # TPC-H Q5 shape: fact scan + four broadcast dimension joins
    # (customer/orders are fact-sized joins; supplier/nation/region
    # broadcast), local-supplier condition c_nationkey = s_nationkey,
    # grouped decimal-exact revenue per nation.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg((F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"))
    )


def q_running_distinct_users(spark, sf_dir):
    # cumulative distinct-user curve WITHOUT a giant distinct-over-window:
    # first-seen day per user (one partial-agg'd min), daily new-user
    # counts, then a cumulative sum over the calendar-bounded daily frame.
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


def q_percentile_bands(spark, sf_dir):
    # p50/p90/p99 monitoring bands from ONE bucketed percentile walk:
    # the probe, the bucket histogram and the final aggregate serve any
    # number of targets. Same exact smallest-v-with->=p% semantics, same
    # single comparison form.
    from datajudge_spark.operators.scalars import exact_percentiles_df

    li = _t(spark, sf_dir, "lineitem")
    return exact_percentiles_df(li, "l_extendedprice", [50.0, 90.0, 99.0])


def q_gap_fill_daily(spark, sf_dir):
    # densify a sparse daily series to the full calendar + forward-fill:
    # the standard prep before any time-series model. Calendar spine is
    # explode(sequence(min,max)) off a 1-row bound agg — never the fact
    # table; forward-fill windows the calendar-bounded frame.
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        fill_daily_gaps,
    )

    ev = _t(spark, sf_dir, "events")
    sub = ev.where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 7)
    )
    cents = (
        F.sum(_cents("value"))
    )
    daily = daily_totals(sub, "ts", cents, alias="cents")
    return fill_daily_gaps(daily, "cents")


def q_ewma_daily(spark, sf_dir):
    # trailing EWMA of daily revenue. Weights are EXACT decimals
    # ((7/10)^k), so weight*cents products commute — no double summation
    # order sensitivity across engines/partitionings. Equi-join on
    # date_sub(day,k), never a range/theta join.
    from datajudge_spark.operators.timeseries import daily_totals, ewma_daily

    o = _t(spark, sf_dir, "orders")
    cents = (
        F.sum(_cents("o_totalprice"))
    )
    daily = daily_totals(o, "o_orderdate", cents, alias="cents")
    return ewma_daily(daily, "cents", alpha_num=3, alpha_den=10, lookback=14)


def q_anomaly_zscore(spark, sf_dir):
    # rolling z-score anomaly flags from EXACT integer window sums: z is
    # one double expression over (x, S, SS, n) — identical parse tree in
    # the oracle => bit-identical doubles (stddev_samp would not be).
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        zscore_anomalies,
    )

    ev = _t(spark, sf_dir, "events")
    cents = (
        F.sum(_cents("value"))
    )
    daily = daily_totals(ev, "ts", cents, alias="cents")
    return zscore_anomalies(daily, "cents", window_days=7, threshold=2.0)


def q_approx_percentile_check(spark, sf_dir):
    # percentile_approx sketch vs the EXACT median from the two-pass
    # range-bucketed percentile operator (same construction as
    # q_percentile — Spark's percentile() aggregate would funnel the
    # whole column into one aggregation buffer, the SURVEY §4.4 hazard).
    # Median over integer cents so the exact value is engine-exact.
    from datajudge_spark.operators.scalars import exact_percentile_df

    li = _t(spark, sf_dir, "lineitem")
    cents = li.select(
        _cents("l_extendedprice")
        .alias("c")
    )
    exact = exact_percentile_df(cents, "c", 50.0).select(
        F.col("value").cast("bigint").alias("exact_median_cents")
    )
    approx = cents.agg(
        F.percentile_approx("c", F.lit(0.5), F.lit(10_000)).alias("__approx")
    )
    return exact.join(F.broadcast(approx)).select(
        "exact_median_cents",
        (
            F.abs(F.col("__approx") - F.col("exact_median_cents"))
            <= 0.02 * F.col("exact_median_cents")
        ).alias("within_tol"),
    )


# --------------------------------------------------------------------------
# round 3 continuation: integrity / semi-structured / distribution checks
# --------------------------------------------------------------------------

def q_fk_integrity(spark, sf_dir):
    # referential integrity over the star schema's FK edges: LEFT ANTI
    # against the de-duplicated parent key projection (never a row
    # multiplication; parent shuffle carries |distinct keys| rows).
    from datajudge_spark.operators.integrity import fk_report

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return fk_report([
        (o, ["o_custkey"], c, ["c_custkey"], "orders->customer"),
        (li, ["l_orderkey"], o, ["o_orderkey"], "lineitem->orders"),
        (li, ["l_partkey"], p, ["p_partkey"], "lineitem->part"),
    ])


def q_json_extract_agg(spark, sf_dir):
    # semi-structured: pull a typed field out of the JSON props column
    # and aggregate it per event type. get_json_object is JVM-side
    # (Jackson) — stays inside whole-stage codegen, no Python worker.
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.count(k).alias("n_with_k"),
        )
    )


def q_benford_digits(spark, sf_dir):
    # first-significant-digit distribution of order totals (Benford
    # screen). The digit is taken from the DECIMAL cents rendered as a
    # string — bigint-to-string is engine-exact, double formatting is
    # not. One partial-agg shuffle of <= 9 groups; the fraction uses a
    # broadcast 1-row total.
    o = _t(spark, sf_dir, "orders")
    cents = (
        _cents("o_totalprice")
    )
    digits = o.where(cents > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = digits.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("frac"),
        )
    )


def q_cusum_changepoint(spark, sf_dir):
    # CUSUM level-shift detector on daily order revenue: the n-scaled
    # cumulative deviation D_t = n*cumsum_t - t*total stays bigint-exact
    # so the argmax day is bit-identical cross-engine; only the reported
    # magnitude divides once as a double
    from datajudge_spark.operators.timeseries import (
        cusum_changepoint,
        daily_totals,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    daily = daily_totals(o, "o_orderdate", F.sum(cents), "cents")
    return cusum_changepoint(daily, "cents")


def q_theils_u(spark, sf_dir):
    # asymmetric dependence: what fraction of event-type entropy does
    # day-of-week explain, and vice versa — same single-shuffle cell
    # skeleton and log-sum fold as mutual_information.
    from datajudge_spark.operators.stats import theils_u

    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ),
        F.lit(7),
    )
    base = ev.select(F.col("event_type").alias("et"), dow.alias("dow"))
    return theils_u(base, "et", "dow")


def q_cramers_v(spark, sf_dir):
    # chi-squared effect size normalized to [0,1]: comparable across
    # snapshots of different sizes, unlike raw chi2. Same dense grid
    # as chi_squared (zero cells carry expected mass).
    from datajudge_spark.operators.stats import cramers_v

    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ),
        F.lit(7),
    )
    base = ev.select(F.col("event_type").alias("et"), dow.alias("dow"))
    return cramers_v(base, "et", "dow")


def q_bootstrap_ci_mean(spark, sf_dir):
    # deterministic Poisson-bootstrap CI of the mean order price: all 64
    # replicates accumulate in ONE aggregation pass (per-row md5-derived
    # Poisson(1) weights, no row multiplication); replicate numerators
    # are DECIMAL(38,0)-exact and each mean divides once, rounded 6dp.
    from datajudge_spark.operators.resample import bootstrap_mean_ci

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    return bootstrap_mean_ci(
        o.select(F.col("o_orderkey"), cents.alias("cents")),
        "o_orderkey",
        "cents",
        n_reps=64,
    )


def q_streaming_bootstrap(spark, sf_dir):
    """Eleventh streaming contract query: incremental Poisson-bootstrap
    uncertainty over the event stream.  The deterministic md5-keyed
    weights make replicate sums plain associative aggregates, so the
    32-row COMPLETE-mode state after the availableNow drain equals the
    batch bootstrap of the same rows exactly; the drained sink is then
    digested with the batch rank rule — hash-equal to the SQL oracle."""
    import math

    from datajudge_spark.streaming import StreamScope, streaming_bootstrap_sums

    n_reps = 32

    def digest(state):
        # batch post-processing of the drained 32-row state: identical
        # rank rule as operators.resample.bootstrap_mean_ci
        m = state.select(
            "cnt",
            "s",
            F.col("rep"),
            F.when(
                F.col("n") > 0,
                F.round(
                    F.col("sw").cast("double") / F.col("n").cast("double"), 6
                ),
            ).alias("m"),
        )
        rn = F.row_number().over(
            Window.orderBy(F.col("m").asc_nulls_last(), "rep")
        )
        lo_idx = math.ceil(2.5 / 100.0 * n_reps)
        med_idx = math.ceil(0.5 * n_reps)
        hi_idx = math.ceil(97.5 / 100.0 * n_reps)
        ranked = m.select("cnt", "s", "m", rn.alias("rn"))
        return ranked.groupBy("cnt", "s").agg(
            F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).alias("boot_lo"),
            F.max(F.when(F.col("rn") == med_idx, F.col("m"))).alias(
                "boot_median"
            ),
            F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).alias("boot_hi"),
        ).select(
            F.col("cnt").cast("bigint").alias("n_rows"),
            F.lit(n_reps).cast("int").alias("n_reps"),
            F.round(
                F.col("s").cast("double") / F.col("cnt").cast("double"), 6
            ).alias("point_mean"),
            "boot_lo",
            "boot_median",
            "boot_hi",
        )

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir).where(F.col("value").isNotNull())
        sums = streaming_bootstrap_sums(
            ev.select(F.col("event_id"), _cents("value").alias("cents")),
            "event_id",
            "cents",
            n_reps=n_reps,
        )
        return scope.collect(sums, "complete", digest)


def q_streaming_gumbel(spark, sf_dir):
    """Twelfth streaming contract query: incremental extreme-value
    tracking.  Per-month running MAX of event values is associative
    state (one row per calendar block, COMPLETE mode); the drained
    maxima equal the batch block maxima exactly, so the Gumbel fit of
    the drained state hash-equals the batch EVT digest of the same
    rows — capacity planning that stays current per micro-batch."""
    from datajudge_spark.operators.timeseries import gumbel_fit_from_maxima
    from datajudge_spark.streaming import StreamScope, streaming_block_maxima

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir)
        maxima = streaming_block_maxima(
            ev.select(F.col("ts"), _cents("value").alias("cents")),
            "ts",
            "cents",
            block="month",
        )
        return scope.collect(
            maxima,
            "complete",
            lambda state: gumbel_fit_from_maxima(state, "m", (12, 60)),
        )


def q_streaming_grouped_gumbel(spark, sf_dir):
    """Thirteenth streaming contract query: PER-SOURCE incremental
    extreme-value tracking.  State keys by (event_type, day) — running
    daily maxima per source, O(|groups|·|days|) rows; the drained state
    equals the batch per-source block maxima exactly (MAX associative),
    and the per-group Gumbel fit of the drained state hash-equals the
    batch digest."""
    from datajudge_spark.operators.timeseries import gumbel_fit_from_maxima
    from datajudge_spark.streaming import StreamScope, streaming_block_maxima

    with StreamScope(spark, watermark_flush=False) as scope:
        ev = _event_stream(scope, sf_dir)
        maxima = streaming_block_maxima(
            ev.select(
                F.col("ts"), F.col("event_type"), _cents("value").alias("cents")
            ),
            "ts",
            "cents",
            block="day",
            group_col="event_type",
        )
        return scope.collect(
            maxima,
            "complete",
            lambda state: gumbel_fit_from_maxima(
                state, "m", (30,), group_cols=["event_type"]
            ).orderBy("event_type"),
        )


def q_gumbel_return_level(spark, sf_dir):
    # extreme-value gate: Gumbel fit over monthly maxima of daily
    # revenue, with 1-year and 5-year return levels — "is this spike
    # unprecedented or the expected annual extreme?". Block maxima are
    # exact integers; sufficient statistics DECIMAL(38,0); one double
    # conversion through fixed literal constants.
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        gumbel_return_level,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    daily = daily_totals(o, "o_orderdate", F.sum(cents), "cents")
    return gumbel_return_level(
        daily, "cents", block="month", return_periods=(12, 60)
    )


def q_partial_correlation(spark, sf_dir):
    # quantity-price association with discount held fixed: the
    # confounder screen corr_matrix can't express. One pass of nine
    # DECIMAL(38,0) sufficient statistics; every r converts once to
    # double with the variance product sqrt-split; degenerate legs NULL.
    from datajudge_spark.operators.stats import partial_correlation

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        _cents("l_quantity").alias("q"),
        _cents("l_extendedprice").alias("p"),
        _cents("l_discount").alias("d"),
    )
    return partial_correlation(base, "q", "p", "d")


def q_winnowing_pairs(spark, sf_dir):
    # MOSS winnowing: candidate near-dup pairs sharing selected k-gram
    # fingerprints, ranked by shared-fingerprint count. Guarantees any
    # shared passage of >= w+k-1 words is caught — the local-overlap
    # complement to MinHash's whole-document similarity. All per-row
    # JVM array expressions; only 60-bit fingerprints shuffle.
    from datajudge_spark.pipeline.dedup import winnowing_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = winnowing_pairs(docs, "doc_id", "text", k=4, w=5)
    return (
        pairs.orderBy(F.col("n_shared").desc(), "d1", "d2")
        .limit(25)
    )


def q_grouped_bootstrap_ci(spark, sf_dir):
    # per-priority bootstrap CI of the mean order price: tells "this
    # segment's mean moved" from "this segment's mean is noisy" in one
    # pass. Same index-explode + map-side-combine shape as the global
    # digest; the exchange carries |groups| x 64 rows at any scale.
    from datajudge_spark.operators.resample import (
        grouped_bootstrap_mean_ci,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    return grouped_bootstrap_mean_ci(
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderkey"),
            cents.alias("cents"),
        ),
        "priority",
        "o_orderkey",
        "cents",
        n_reps=64,
    ).withColumnRenamed("grp", "priority")


def q_k_anonymity(spark, sf_dir):
    # privacy release gate: k-anonymity + l-diversity digest over the
    # (nation, mktsegment) quasi-identifier on customers, sensitive =
    # account balance. ONE grouped shuffle (hot groups are safe groups,
    # so no skew hazard) then a 1-row exact-integer digest; only the
    # at-risk fraction divides, once, rounded 6dp.
    from datajudge_spark.operators.privacy import k_anonymity

    c = _t(spark, sf_dir, "customer")
    return k_anonymity(
        c,
        ["c_nationkey", "c_mktsegment"],
        k=10,
        sensitive_col="c_acctbal",
        min_l=5,
    )


def q_acf_daily(spark, sf_dir):
    # autocorrelation of daily order revenue at calendar lags 1..14 plus
    # the cumulative Ljung-Box statistic: per-lag sufficient statistics
    # stay DECIMAL(38,0)-exact, acf converts once to double in a fixed
    # expression (variance product split as sqrt(a)*sqrt(b) so neither
    # factor leaves decimal range), and the Ljung-Box fold sums the
    # ROUNDED r_k^2 terms in lag order — bit-identical cross-engine.
    from datajudge_spark.operators.timeseries import (
        autocorrelation,
        daily_totals,
    )

    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    daily = daily_totals(o, "o_orderdate", F.sum(cents), "cents")
    return autocorrelation(daily, "cents", max_lag=14)


def _grouped_daily_cents(spark, sf_dir):
    # one row per (priority, day): the grouped daily frame feeding the
    # per-group EVT / ACF digests (same contract as grouped_theil_sen)
    o = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    return o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.sum(cents).alias("cents"))


def q_grouped_return_level(spark, sf_dir):
    # per-priority Gumbel block-maxima fit: real pipelines gate tail
    # risk per source/shard, not globally. Same plan as the global
    # digest with one more grouping key — block maxima stay exact
    # integers, sufficient statistics DECIMAL(38,0), fit doubles
    # unrounded (bit-identical cross-engine; rounding CREATES ties).
    from datajudge_spark.operators.timeseries import gumbel_return_level

    daily = _grouped_daily_cents(spark, sf_dir)
    return gumbel_return_level(
        daily, "cents", block="month", return_periods=(12, 60),
        group_col="grp",
    )


def q_grouped_acf(spark, sf_dir):
    # per-priority autocorrelation + Ljung-Box at calendar lags 1..7:
    # "does THIS source's daily series carry structure the drift
    # monitors must model?" — the grouped form of acf_daily. Pair join
    # keys by (group, day+lag); the Ljung-Box fold partitions by group
    # over <= 7-row frames.
    from datajudge_spark.operators.timeseries import autocorrelation

    daily = _grouped_daily_cents(spark, sf_dir)
    return autocorrelation(daily, "cents", max_lag=7, group_col="grp")


def q_trend_slope(spark, sf_dir):
    # least-squares slope of daily revenue per order priority, in
    # cents/day. All five sufficient statistics are exact DECIMAL(38,0)
    # sums of integers (x centered on the global min day so products fit);
    # only the final two divisions are IEEE doubles — bit-identical in
    # any engine, unlike regr_slope's float accumulation order.
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    cents = _cents("o_totalprice")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        day.alias("d"),
        cents.alias("c"),
    )
    min_day = base.agg(F.min("d").alias("__d0"))
    daily = (
        base.join(F.broadcast(min_day))
        .select("priority", (F.col("d") - F.col("__d0")).alias("x"), "c")
        .groupBy("priority", "x")
        .agg(F.sum("c").alias("y"))
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    stats = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return stats.select(
        "priority",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / den, 6).alias("slope_cents_per_day"),
    )


def q_dedup_canonical(spark, sf_dir):
    # cluster -> corpus: keep the single best doc per duplicate cluster
    # (longest, then smallest id), digest kept set to one checksum row.
    # Join is clusters (tiny post-LSH set) x documents; top-1-per-key is
    # the partial WindowGroupLimit plan, shuffle O(|clustered docs|).
    from datajudge_spark.pipeline import dedup

    clusters = dedup.duplicate_clusters(q_dedup_minhash_lsh(spark, sf_dir))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clustered = clusters.join(docs, "doc_id")
    kept = dedup.cluster_representatives(clusters, docs)
    totals = clustered.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        kept.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("doc_id").cast("bigint").alias("kept_checksum"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .join(F.broadcast(totals))
        .select(
            "n_clusters",
            (F.col("__n_docs") - F.col("n_clusters"))
            .cast("bigint")
            .alias("n_dropped"),
            "kept_checksum",
            "kept_chars",
        )
    )


def q_chunk_dedup(spark, sf_dir):
    # sub-document duplication: fraction of 16-token chunks per source
    # that repeat corpus-wide (boilerplate signal doc-level dedup
    # misses). Only 60-bit chunk hashes shuffle.
    from datajudge_spark.pipeline.dedup import chunk_duplicate_stats

    d = _t(spark, sf_dir, "documents")
    stats = chunk_duplicate_stats(d, "doc_id", "text", chunk_tokens=16)
    return (
        stats.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("n_dup_chunks").cast("bigint").alias("n_dup_chunks"),
            F.round(
                F.sum("n_dup_chunks") / F.sum("n_chunks"), 6
            ).alias("dup_chunk_fraction"),
        )
    )


def _trade_edges(spark, sf_dir):
    # nation-to-nation trade graph: customer nation -> supplier nation,
    # weight = lineitem count. Star join with broadcast dims.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def q_graph_pagerank(spark, sf_dir):
    # weighted PageRank over the nation trade graph: 10 fixed power
    # iterations, dangling mass redistributed (1-row agg per round),
    # lineage truncated every round. State is O(|nodes|) rows.
    from datajudge_spark.operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    ranks = pagerank(edges, weight="w", damping=0.85, n_iterations=10)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def q_graph_bfs(spark, sf_dir):
    # minimum hop count from the lexicographically smallest nation over
    # the (unweighted) trade edges — frontier expansion, integer-exact.
    # The 6-table edge derivation feeds BOTH the source-pick aggregate
    # and the traversal: persist it once (materialize_once), or the
    # star join runs twice.
    from datajudge_spark.operators.graph import bfs_levels
    from datajudge_spark.pipeline._util import materialize_once

    edges = materialize_once(_trade_edges(spark, sf_dir).select("src", "dst"))
    sources = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .agg(F.min("node").alias("node"))
    )
    return bfs_levels(edges, sources, max_hops=20)


def q_mad_outliers(spark, sf_dir):
    # robust outlier screen on order totals (cents): exact median and
    # MAD via the two-pass range-bucketed percentile, k=3 sigma-
    # consistent threshold, one final conditional aggregate.
    from datajudge_spark.operators.stats import mad_outliers

    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        _cents("o_totalprice")
        .alias("c")
    )
    return mad_outliers(cents, "c", k=3.0)


def q_zorder_digest(spark, sf_dir):
    # Z-order (Morton) clustering key over (orderkey, partkey): the
    # multi-dimensional data-skipping layout key, digested to one row.
    # Pure codegen bit arithmetic — no UDF, no extra shuffle.
    from datajudge_spark.operators.olap import zorder_key

    from datajudge_spark.pipeline._util import spread

    li = _t(spark, sf_dir, "lineitem")
    z = zorder_key(["l_orderkey", "l_partkey"], bits=16)
    # spread the 2-column projection: the Morton bit-interleave is
    # CPU-bound and a single-file scan would run it on one core
    # (no-op at multi-file scale; measured 1.02 -> 0.76 s)
    return spread(li.select("l_orderkey", "l_partkey")).select(z.alias("z")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("z")).alias("n_distinct_z"),
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
        F.sum("z").cast("bigint").alias("z_checksum"),
    )


def q_weighted_percentile(spark, sf_dir):
    # quantity-weighted median unit price in cents: the exact
    # percentile's range-bucketed plan, but the histogram accumulates
    # DECIMAL(38,0) integer weights — no float accumulation anywhere,
    # so the boundary value is engine-exact.
    from datajudge_spark.operators.scalars import exact_weighted_percentile_df

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        _cents("l_extendedprice")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return exact_weighted_percentile_df(v, "cents", "w", 50.0).select(
        F.col("value").cast("bigint").alias("wp50_cents")
    )


def q_event_transitions(spark, sf_dir):
    # behavioural bigrams: top event_type -> next event_type transitions
    # per user stream. lag/lead window partitioned BY USER (thousands of
    # small partitions — scales out; never a global sort), deterministic
    # total order (ts, event_id) within user.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "src", "dst")
        .limit(10)
    )


def _cents(col: str):
    # Money doubles are 2-dp by data contract, so x*100 lands within 1e-6
    # of the true integer cents; floor(x*100 + 0.5) recovers that integer
    # exactly for either sign (the +0.5 can never cross to the next
    # integer — money magnitudes stay far below the 2^43 where double
    # spacing reaches 0.5).  Same value as the old decimal(18,2) HALF_UP
    # cast route on any 2-dp input, at ~1/6 the per-row cost: one double
    # multiply + floor instead of a per-row BigDecimal construct/round
    # (measured 175 ms -> 28 ms per column per 600k rows, single core).
    return F.floor(F.col(col) * 100 + F.lit(0.5))


def q_gini_revenue(spark, sf_dir):
    # revenue concentration across customers: exact Gini over per-customer
    # lifetime order value in cents.  Rank sums come from the
    # bucket-partitioned cumulative (operators.stats.gini_coefficient) —
    # no global ordered window at any customer cardinality.
    from datajudge_spark.operators.stats import gini_coefficient

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("v")
    )
    return gini_coefficient(per_cust, "v").select(
        F.col("n").alias("n_customers"),
        F.col("sum_value").cast("bigint").alias("total_cents"),
        F.round("gini", 6).alias("gini"),
    )


def q_mann_whitney(spark, sf_dir):
    # distribution shift between finished ('F') and open ('O') order
    # totals: exact tie-averaged Mann-Whitney U + tie-corrected z.
    # Rank sums are integer-exact over the combined distinct-value
    # histogram (same bucketed-cumulative plan as gini).
    from datajudge_spark.operators.stats import mann_whitney_u

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        _cents("o_totalprice").alias("c"),
        F.col("o_orderstatus").alias("g"),
    )
    return mann_whitney_u(base, "c", "g", "F", "O").select(
        "n_a",
        "n_b",
        F.round("u_a", 1).alias("u_a"),
        F.round("z", 6).alias("z"),
    )


def q_chi_squared(spark, sf_dir):
    # is event type independent of day-of-week?  Pearson chi-squared over
    # the dense contingency grid (zero-observed cells included).  The
    # day number is an epoch-datediff mod 7 — integer-exact and
    # engine-portable, unlike dayofweek()'s differing origins.
    from datajudge_spark.operators.stats import chi_squared_independence

    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ),
        F.lit(7),
    )
    base = ev.select(F.col("event_type").alias("et"), dow.alias("dow"))
    return chi_squared_independence(base, "et", "dow").select(
        "dof", F.round("chi2", 6).alias("chi2")
    )


def q_grouping_sets_agg(spark, sf_dir):
    # GROUPING SETS completes the rollup/cube family: per-priority
    # totals, per-status totals, and the grand total in ONE pass (a
    # single Expand + one shuffle — not three scans UNIONed), with
    # GROUPING() markers disambiguating subtotal NULLs from data NULLs.
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        _cents("o_totalprice").alias("c"),
    )
    return base.groupingSets(
        [["priority"], ["status"], []], "priority", "status"
    ).agg(
        F.grouping("priority").cast("int").alias("g_priority"),
        F.grouping("status").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").cast("bigint").alias("sum_cents"),
    )


def q_unpivot_metrics(spark, sf_dir):
    # wide->long reshape (melt) of per-nation customer metrics via the
    # native Unpivot operator — a map-side 1:3 expansion after the
    # source aggregate; no extra shuffle, no UDF.
    c = _t(spark, sf_dir, "customer")
    wide = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(_cents("c_acctbal")).cast("bigint").alias("acctbal_cents"),
        F.count_distinct("c_mktsegment").cast("bigint").alias("n_segments"),
    )
    return wide.unpivot(
        ["nationkey"],
        ["n_customers", "acctbal_cents", "n_segments"],
        "metric",
        "value",
    )


def q_embedding_centroids(spark, sf_dir):
    # per-label centroid of the embedding column, long-form (label,
    # component, n, mean) — decimal-exact component sums so the mean is
    # partition-order independent (pipeline.similarity.group_centroids).
    from datajudge_spark.pipeline.similarity import group_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return group_centroids(emb, "embedding", "label").select(
        F.col("grp").alias("label"), "component", "n", "mean"
    )


def q_streaming_interval_join(spark, sf_dir):
    """Fifth streaming contract query: stream-stream INNER interval
    join (purchases -> the same user's clicks in the following 2 hours)
    as a watermarked self-join over one file-stream, drained with
    availableNow in append mode.  Each matched pair is emitted exactly
    once, so the drained sink equals the batch range join — the oracle.
    Join state at scale is bounded by watermark + range bound, never by
    stream length."""
    from datajudge_spark.streaming import StreamScope, interval_join_streams

    with StreamScope(spark, watermark_flush=False) as scope:
        joined = interval_join_streams(
            *_purchase_click_streams(scope, sf_dir),
            "p_ts",
            "c_ts",
            watermark_delay="1 hour",
        )
        return scope.collect(
            joined,
            "append",
            lambda sink: sink.agg(
                F.count(F.lit(1)).alias("n_matched"),
                F.sum("click_id").cast("bigint").alias("sum_click_id"),
                F.sum("purchase_id").cast("bigint").alias("sum_purchase_id"),
            ),
        )


def _purchase_click_streams(scope, sf_dir: str):
    """(purchases, clicks, on) of the interval-join contracts: each
    purchase pairs with the same user's clicks in the following 2 h."""
    ev = _event_stream(scope, sf_dir).withColumn(
        "event_ts", F.col("ts").cast("timestamp")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("event_ts").alias("p_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("event_ts").alias("c_ts"),
    )
    on = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") < F.col("p_ts") + F.expr("INTERVAL 2 HOURS"))
    )
    return purchases, clicks, on


def q_streaming_left_join(spark, sf_dir):
    """Tenth streaming contract query: stream-stream LEFT OUTER
    interval join (every purchase, with the same user's clicks in the
    following 2 hours when they exist).  Matches emit like the inner
    join; an unmatched purchase emits null-padded once the watermark
    proves no click can still arrive — i.e. iff
    ``p_ts + 2h < min(max(p_ts), max(c_ts)) - 1h``.  The final drained
    set depends only on the data (watermark is monotone), so the batch
    oracle reproduces it exactly with that inequality."""
    from datajudge_spark.streaming import (
        StreamScope,
        interval_left_join_streams,
    )

    # keeps the watermark-flush batch: null-padding waits on it
    with StreamScope(spark) as scope:
        joined = interval_left_join_streams(
            *_purchase_click_streams(scope, sf_dir),
            "p_ts",
            "c_ts",
            watermark_delay="1 hour",
        )
        return scope.collect(
            joined,
            "append",
            lambda sink: sink.agg(
                F.count(F.lit(1)).alias("n_emitted"),
                F.count("click_id").alias("n_matched"),
                F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_unmatched"),
                F.sum("purchase_id").cast("bigint").alias("sum_purchase_id"),
                F.sum("click_id").cast("bigint").alias("sum_click_id"),
            ),
        )


def q_winsorized_mean(spark, sf_dir):
    # robust mean of order totals: values clamp to the exact [p5, p95]
    # before averaging — the estimator that survives fat tails without
    # dropping rows (completing the robust family: MAD screen,
    # percentile trim, winsorize).  Rides the packaged
    # operators.scalars.winsorized_stats (shared-histogram exact cuts,
    # DECIMAL-exact clamped sum, one double division at the end), which
    # also backs add_winsorized_mean_constraint.
    from datajudge_spark.operators.scalars import winsorized_stats
    from datajudge_spark.pipeline._util import materialize_once

    o = _t(spark, sf_dir, "orders")
    vals = materialize_once(
        o.select(_cents("o_totalprice").alias("c")).where(
            F.col("c").isNotNull()
        )
    )
    return winsorized_stats(vals, "c", 5.0, 95.0).select(
        F.col("n").alias("n_rows"),
        F.col("lo_cut").cast("bigint").alias("p5_cents"),
        F.col("hi_cut").cast("bigint").alias("p95_cents"),
        F.col("winsorized_mean").alias("winsorized_mean_cents"),
    )


def q_session_paths(spark, sf_dir):
    # top-20 user-day event paths ('view>click>purchase'): the classic
    # path-analysis digest.  Per-(user, day) events sort INSIDE an array
    # (array_sort of (ts, event_id, event_type) structs — deterministic
    # tiebreak, no ordered window over the fact table), capped at the
    # first 20 events; top-20 paths via TakeOrderedAndProject.
    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    per_sess = (
        ev.groupBy("user_id", day.alias("day"))
        .agg(
            F.collect_list(
                F.struct("ts", "event_id", "event_type")
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort("evs"), 1, 20),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        per_sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


def q_equidepth_histogram(spark, sf_dir):
    # equi-depth (decile-bucketed) histogram of extended price: bucket
    # edges are the exact p10..p90 (shared-histogram multi-percentile
    # plan), then ONE conditional-sum scan counts rows per bucket —
    # ties land in the lower bucket (strict >), identical rule both
    # engines.
    from datajudge_spark.operators.scalars import exact_percentiles_df
    from datajudge_spark.pipeline._util import materialize_once

    li = _t(spark, sf_dir, "lineitem")
    # the cents projection feeds the range probe, the bucket histogram,
    # the threshold aggregate, AND the final bucketing scan — persist
    # it once
    vals = materialize_once(
        li.select(_cents("l_extendedprice").alias("c")).where(
            F.col("c").isNotNull()
        )
    )
    ps = [float(p) for p in range(10, 100, 10)]
    thr = exact_percentiles_df(vals, "c", ps)
    bucket = sum(
        [
            F.when(F.col("c") > F.col(f"p{p:g}"), 1).otherwise(0)
            for p in ps
        ],
        F.lit(0),
    )
    return (
        vals.join(F.broadcast(thr))
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_text_ttr(spark, sf_dir):
    # type-token ratio per document (lexical diversity: distinct tokens
    # over total tokens — low TTR flags repetitive/templated text).
    # One explode + one partial-agg'd groupBy per doc.
    from datajudge_spark.pipeline.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("term").alias("n_types"),
        F.round(
            F.count_distinct("term") / F.count(F.lit(1)).cast("double"), 6
        ).alias("ttr"),
    )


def q_bigram_pmi(spark, sf_dir):
    # top-20 bigram collocations by pointwise mutual information:
    # PMI = ln(c(w1,w2)·N / (c(w1,·)·c(·,w2))) over corpus bigrams with
    # count >= 5 — the classic collocation extractor.  All counts are
    # exact integers from two partial-agg passes; the ranking key is the
    # ROUNDED pmi (libm stability) with a deterministic tiebreak, and
    # top-20 compiles to TakeOrderedAndProject.
    from datajudge_spark.pipeline.text import tokens

    d = _t(spark, sf_dir, "documents")
    arr = tokens("text")
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = (
        d.where(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cf = cb.groupBy("w1").agg(F.sum("cb").alias("cf"))
    cs = cb.groupBy("w2").agg(F.sum("cb").alias("cs"))
    tot = cb.agg(F.sum("cb").alias("_n"))
    pmi = F.round(
        F.log(
            (F.col("cb").cast("double") * F.col("_n").cast("double"))
            / (F.col("cf").cast("double") * F.col("cs").cast("double"))
        ),
        6,
    )
    return (
        cb.where(F.col("cb") >= 5)
        .join(cf, "w1")
        .join(cs, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "cb", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


def q_events_hourly_heatmap(spark, sf_dir):
    # activity heatmap: counts per (epoch-day mod 7, hour) per event
    # type — the ops dashboard staple.  Day number is the same
    # engine-portable epoch datediff used by chi_squared; one
    # partial-agg'd shuffle, <= 7·24·|types| rows out.
    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ),
        F.lit(7),
    )
    return (
        ev.groupBy(
            F.col("event_type"),
            dow.alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_percentile_drift(spark, sf_dir):
    # quantile-grid drift report between A-flag and R-flag extended
    # prices: the exact p25..p99 of BOTH samples, long-form with per-
    # quantile deltas — the "where exactly did the distribution move?"
    # companion to the scalar KS/EMD digests.  Each side is one bucketed
    # multi-percentile walk (one probe, histogram and final aggregate
    # for any number of quantiles); the two 1-row results melt and join
    # on the quantile.
    from datajudge_spark.operators.scalars import exact_percentiles_df

    li = _t(spark, sf_dir, "lineitem")
    ps = [25.0, 50.0, 75.0, 90.0, 99.0]
    cols = [f"p{p:g}" for p in ps]

    def _bands(flag, out):
        side = li.where(F.col("l_returnflag") == flag).select(
            _cents("l_extendedprice").alias("c")
        )
        return (
            exact_percentiles_df(side, "c", ps)
            .select([F.col(c).cast("bigint").alias(c) for c in cols])
            .unpivot([], cols, "quantile", out)
        )

    return (
        _bands("A", "v_a")
        .join(_bands("R", "v_r"), "quantile")
        .select(
            "quantile",
            "v_a",
            "v_r",
            (F.col("v_r") - F.col("v_a")).cast("bigint").alias("delta"),
        )
    )


def q_text_bigram_logprob(spark, sf_dir):
    # bigram LM perplexity proxy: word ORDER now matters, so shuffled /
    # templated junk that fools unigram statistics scores high.
    # Bigrams build map-side from the token array (no position join);
    # counts are two partial-agg passes (pipeline.text.bigram_logprob).
    from datajudge_spark.pipeline.text import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d, "doc_id", "text")


def q_event_value_quartiles(spark, sf_dir):
    # exact quartiles of the event value per event type, all three from
    # ONE group-partitioned cumulative window + ONE aggregate — never a
    # pass per quantile (operators.scalars.grouped_exact_percentiles).
    from datajudge_spark.operators.scalars import grouped_exact_percentiles

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type", F.col("value").alias("v"))
    return grouped_exact_percentiles(
        base, "event_type", "v", [25, 50, 75]
    ).select(
        F.col("grp").alias("event_type"),
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


def q_null_counts_wide(spark, sf_dir):
    # per-column null counts of orders in ONE scan, melted long — the
    # quickest data-quality sweep a table gets.  Conditional sums fuse
    # into a single aggregate; unpivot is the map-side Expand.
    o = _t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    wide = o.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(c)
            for c in cols
        ]
    )
    return wide.unpivot([], cols, "column_name", "n_nulls")


def q_distinct_customers_matrix(spark, sf_dir):
    # distinct ordering customers per (market segment, order year) —
    # the grouped COUNT(DISTINCT) shape: partial-agg'd distinct on
    # (segment, year, custkey), then a count per group; the customer
    # dim broadcasts onto the fact.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
    )


def q_order_interarrival(spark, sf_dir):
    # days between consecutive orders per customer: lag() windows are
    # PARTITIONED by customer (never global), the digest aggregates
    # exact integer day gaps per priority of the later order.
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey",
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    return gaps.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
        F.max("gap_days").cast("int").alias("max_gap_days"),
        F.round(
            F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_gap_days"),
    )


def q_source_dup_rate(spark, sf_dir):
    # per-source exact-duplicate rate: 1 - distinct_fingerprints/docs —
    # the "which feed is resending content?" curation screen.  One
    # groupBy on (source, fingerprint) then a partial-agg'd rollup to
    # source; md5-based fingerprints are engine-portable.
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.col("text")).alias("fp")
    per = d.select("source", fp).groupBy("source", "fp").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)) / F.sum("n").cast("double"), 6
        ).alias("dup_rate"),
    )


def q_doc_length_histogram(spark, sf_dir):
    # document-length distribution per language in 500-char buckets —
    # the curation dashboard's 2-D histogram. One partial-agg'd shuffle;
    # |langs| x |buckets| rows out.
    d = _t(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 500) * 500).cast("bigint")
    return (
        d.where(F.col("n_chars").isNotNull())
        .groupBy(F.col("lang"), bucket.alias("len_bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_wasserstein(spark, sf_dir):
    # earth mover's distance between A-flag and R-flag extended prices
    # (cents) — the integral companion to the KS max statistic, on a
    # NEAR-UNIQUE column: cumulative + lead() run in bucket-partitioned
    # windows; ≤2048 boundary gaps close on the driver
    # (operators.stats.wasserstein_1d).
    from datajudge_spark.operators.stats import wasserstein_1d

    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select(
        _cents("l_extendedprice").alias("c")
    )
    b = li.where(F.col("l_returnflag") == "R").select(
        _cents("l_extendedprice").alias("c")
    )
    return wasserstein_1d(a, b, "c", "c").select(
        "n1", "n2", F.round("emd", 6).alias("emd")
    )


def q1_pricing_summary(spark, sf_dir):
    # TPC-H Q1 with engine-exact money: prices/discounts/taxes become
    # scaled integers (cents, percent-cents), so every SUM is a
    # DECIMAL-exact integer — disc_price in cents/100, charge in
    # cents/10000 — and averages are one double division at the end.
    # Canonical partial-agg + single-shuffle plan; the shipdate filter
    # pushes to the scan.
    li = _t(spark, sf_dir, "lineitem")
    qc = _cents("l_quantity")
    ec = _cents("l_extendedprice")
    dc = _cents("l_discount")  # discount as integer percent-cents
    tc = _cents("l_tax")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(qc)).cast("bigint").alias("sum_qty_cents"),
            F.sum(dec(ec)).cast("bigint").alias("sum_base_cents"),
            # per-row products in 64-bit (ec <= ~1e7 cents, factors <=
            # 108 and 200 -> <= ~1.2e11, far under 2^63); DECIMAL only
            # for the across-row accumulation where exactness is the
            # contract — the partial_correlation idiom
            F.sum(dec(ec * (100 - dc)))
            .cast("bigint")
            .alias("sum_disc_scaled"),
            F.sum(dec(ec * (100 - dc) * (100 + tc)))
            .cast("bigint")
            .alias("sum_charge_scaled"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(dec(qc)).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty_cents"),
            F.round(
                F.sum(dec(ec)).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price_cents"),
        )
    )


def q10_returned_items(spark, sf_dir):
    # TPC-H Q10 shape: revenue lost to returned items per customer in
    # one quarter — selective fact filters pushed to both scans, two
    # broadcast dims, decimal-exact revenue, TakeOrderedAndProject
    # top-20 (per-partition heaps, no global sort).
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ec, dc = _cents("l_extendedprice"), _cents("l_discount")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                # one quarter inside the synthetic data's 1995-2001 date
                # domain (the spec's 1993Q4 window is empty here and made
                # the oracle check vacuous)
                (F.col("o_orderdate") >= F.lit("1995-10-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(dec(ec * (100 - dc)))
            .cast("bigint")
            .alias("revenue_scaled"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue_scaled"), "custkey")
        .limit(20)
    )


def q7_volume_shipping(spark, sf_dir):
    # TPC-H Q7 shape: bilateral trade volume by (supplier nation,
    # customer nation, ship year) for ordered nation pairs — a 6-table
    # star with broadcast dims; the fact shuffles once for the group-by.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    ec, dc = _cents("l_extendedprice"), _cents("l_discount")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(dec(ec * (100 - dc)))
            .cast("bigint")
            .alias("volume_scaled"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_grouped_median(spark, sf_dir):
    # exact median quantity per return flag: the grouped percentiles'
    # window is PARTITIONED by group over each group's distinct-value
    # histogram (50 quantities) — parallel across groups, bounded within
    from datajudge_spark.operators.scalars import grouped_exact_percentile

    li = _t(spark, sf_dir, "lineitem")
    base = li.select("l_returnflag", _cents("l_quantity").alias("qc"))
    return grouped_exact_percentile(base, "l_returnflag", "qc", 50.0).select(
        F.col("grp").alias("returnflag"),
        F.col("value").alias("median_qty_cents"),
    )


def q_embedding_covariance(spark, sf_dir):
    # upper-triangular covariance of the first 8 embedding components —
    # the PCA/whitening input.  6dp-rounded scaled-integer sufficient
    # statistics keep every sum DECIMAL-exact and partition-order
    # independent (pipeline.similarity.covariance_matrix); 36 rows out.
    from datajudge_spark.pipeline.similarity import covariance_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "vec_id", "embedding", components=8).select(
        "comp_i", "comp_j", "n", F.round("cov", 6).alias("cov")
    )


def q_pareto_share(spark, sf_dir):
    # revenue held by customers ABOVE the exact 99th percentile of
    # per-customer lifetime value: the "80/20" concentration digest that
    # complements gini_revenue.  The threshold comes from the two-pass
    # range-bucketed exact percentile; the per-customer aggregate is
    # persisted once and feeds both the percentile and the digest.
    from datajudge_spark.operators.scalars import exact_percentile_df
    from datajudge_spark.pipeline._util import materialize_once

    o = _t(spark, sf_dir, "orders")
    pc = materialize_once(
        o.groupBy("o_custkey").agg(F.sum(_cents("o_totalprice")).alias("v"))
    )
    thr = exact_percentile_df(pc, "v", 99.0)
    top = F.col("v") > F.col("value")
    return pc.join(F.broadcast(thr)).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(top, 1).otherwise(0)).cast("bigint").alias("n_top"),
        F.round(
            F.sum(F.when(top, F.col("v")).otherwise(F.lit(0))).cast("double")
            / F.sum("v").cast("double"),
            6,
        ).alias("top_share"),
    )


def q_funnel_ordered(spark, sf_dir):
    # strict 4-step ordered funnel signup -> view -> click -> purchase:
    # each step must follow the user's FIRST occurrence of the previous
    # step.  Four conditional min-aggregates in ONE scan (no self-joins,
    # no windows), then a 1-row digest — the multi-step extension of
    # funnel_conversion.
    ev = _t(spark, sf_dir, "events")
    step = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        step("signup").alias("t1"),
        step("view").alias("t2"),
        step("click").alias("t3"),
        step("purchase").alias("t4"),
    )
    s2 = F.col("t2") > F.col("t1")
    s3 = s2 & (F.col("t3") > F.col("t2"))
    s4 = s3 & (F.col("t4") > F.col("t3"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count(F.when(s2, 1)).alias("n_viewed"),
        F.count(F.when(s3, 1)).alias("n_clicked"),
        F.count(F.when(s4, 1)).alias("n_purchased"),
    )


def q_spearman(spark, sf_dir):
    # monotone association between quantity and extended price: exact
    # tie-averaged Spearman rho.  Ranks come from per-column
    # distinct-value histograms via the bucket-partitioned cumulative;
    # sufficient statistics are DECIMAL-exact over doubled ranks
    # (operators.stats.spearman_correlation).
    from datajudge_spark.operators.stats import spearman_correlation

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        _cents("l_quantity").alias("qc"),
        _cents("l_extendedprice").alias("ec"),
    )
    return spearman_correlation(base, "qc", "ec").select(
        "n", F.round("rho", 6).alias("rho")
    )


def q_kaplan_meier(spark, sf_dir):
    # user-lifetime survival curve: duration = days between a user's
    # first and last event; churn observed when the last event predates
    # the corpus horizon by >14 days, censored otherwise.  The ordered
    # window runs over distinct day-grain durations (bounded domain),
    # never over users (operators.timeseries.kaplan_meier).
    from datajudge_spark.operators.timeseries import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = ev.agg(
        F.date_sub(F.max(F.col("ts").cast("date")), 14).alias("__h")
    )
    subj = per_user.join(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(F.col("last_d") < F.col("__h"), 1).otherwise(0).alias("ev"),
    )
    return kaplan_meier(subj, "dur", "ev").select(
        "duration",
        "n_risk",
        "n_events",
        "n_censored",
        F.round("survival", 6).alias("survival"),
    )


def q_association_rules(spark, sf_dir):
    # event-type co-occurrence rules per user basket: exact support /
    # confidence / lift.  The pair join is a self-join on the
    # already-shuffled basket key; nothing bigger than |types|² rows
    # leaves the aggregation (operators.associations).
    from datajudge_spark.operators.associations import association_rules

    ev = _t(spark, sf_dir, "events")
    return association_rules(ev, "user_id", "event_type").select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round("support", 6).alias("support"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
    )


# --------------------------------------------------------------------------
# round 4: grouped KS, Theil-Sen trend, PQ approximate nearest neighbor
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PQ_CODES, _PQ_M, _PQ_K = 16, 8, 3


def q_dedup_containment(spark, sf_dir):
    # directional shingle containment — the subset-duplication signal
    # Jaccard dilutes (a short doc verbatim inside a long one): same
    # rare-shingle blocking as dedup_jaccard, one extra division.
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        d, "doc_id", "text", shingle_n=_SHINGLE_N, threshold=0.8,
        max_df=_JACCARD_MAXDF,
    )


def q_grouped_ks(spark, sf_dir):
    # per-segment KS distance against the pooled value distribution:
    # ONE conditional-agg histogram shuffle for all 5 event types, the
    # shared bucket-partitioned multi-cumulative (one sketch, one window
    # stage), never a global window or a per-group scan.
    from datajudge_spark.operators.stats import grouped_ks

    ev = _t(spark, sf_dir, "events")
    return grouped_ks(ev, "value", "event_type", groups=_EVENT_TYPES)


def q_grouped_js_divergence(spark, sf_dir):
    # per-segment Jensen-Shannon divergence vs the pooled value
    # distribution — WHICH event type drifted, by the bounded symmetric
    # metric; one densified conditional-agg bucket histogram for all 5
    # groups, one fold expression per group over the 10-row frame
    from datajudge_spark.operators.stats import grouped_js_divergence

    ev = _t(spark, sf_dir, "events")
    return grouped_js_divergence(
        ev, "value", "event_type", lo=0.0, hi=500.0, n_buckets=10,
        groups=_EVENT_TYPES,
    )


def q_theil_sen(spark, sf_dir):
    # robust daily-revenue trend: median of all pairwise slopes over the
    # calendar-bounded daily frame; slopes are correctly-rounded doubles
    # of exact integer cents/day differences, the median is the two-pass
    # bucketed exact percentile (no global sort).
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        theil_sen_slope,
    )

    o = _t(spark, sf_dir, "orders")
    cents = F.sum(_cents("o_totalprice"))
    daily = daily_totals(o, "o_orderdate", cents, alias="cents")
    return theil_sen_slope(daily, "cents")


def q_ann_topk_pq(spark, sf_dir):
    # product-quantization ANN: encode every embedding into m=8 one-byte
    # codes against a deterministic 16-entry codebook (map-only, k*dim
    # mults/row), then ADC top-3 per query via per-query lookup tables —
    # m lookups + a fixed-order m-fold per candidate instead of dim
    # multiplies.  The billion-scale serving shape next to ann_topk_ivf.
    from datajudge_spark.pipeline.similarity import (
        pq_codebook,
        pq_encode,
        topk_pq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, n_codes=_PQ_CODES, v_id="vec_id", v_vec="embedding")
    enc = pq_encode(emb, cb, m=_PQ_M, id_col="vec_id", vec_col="embedding")
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return topk_pq(
        queries_df,
        enc.withColumnRenamed("vec_id", "cid"),
        cb,
        m=_PQ_M,
        k=_PQ_K,
    )


def q_pq_trained_codebook(spark, sf_dir):
    # Trained per-subspace PQ codebooks (VERDICT r9 #8 / ROUNDLOG
    # candidate since r5): two Lloyd iterations of the FAISS PQ recipe
    # (pq_train — assign via one map-only encode pass, per-(subspace,
    # code, component) means in ONE shuffle, O(n_codes x dim) driver
    # step), then encode the corpus against the TRAINED codebook.
    # Digest: one row per (sub, code) with the assignment count and
    # the trained sub-centroid's L2 norm — 128 bounded rows that pin
    # init, both update steps, empty-code carry-over, and the final
    # encode.  tol=0 forces exactly max_iterations updates so the
    # oracle can replicate the loop without the early-stop rule.
    import math as _math

    from datajudge_spark.pipeline.similarity import pq_train

    emb = _t(spark, sf_dir, "embeddings")
    # with_assignments: the final encode reads pq_train's cached frame
    # instead of re-scanning + re-spreading the corpus (codes identical;
    # measured 0.70 -> 0.27 s for the encode+counts pass at sf0.1)
    cb, enc = pq_train(
        emb,
        n_codes=_PQ_CODES,
        m=_PQ_M,
        max_iterations=2,
        tol=0.0,
        v_id="vec_id",
        v_vec="embedding",
        with_assignments=True,
    )
    counts = (
        enc.select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub", "code")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    ds = len(cb[0]) // _PQ_M
    norms = spark.createDataFrame(
        [
            (
                s,
                c,
                _math.sqrt(
                    sum(cb[c][s * ds + i] ** 2 for i in range(ds))
                ),
            )
            for s in range(_PQ_M)
            for c in range(_PQ_CODES)
        ],
        "sub int, code int, __cn double",
    )
    return (
        norms.join(counts, ["sub", "code"], "left")
        .select(
            "sub",
            "code",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias(
                "n_assigned"
            ),
            F.round(F.col("__cn"), 6).alias("cnorm"),
        )
        .orderBy("sub", "code")
    )


def q_ann_topk_ivf_pq(spark, sf_dir):
    # IVF-PQ composite (the FAISS IndexIVFPQ serving shape): coarse cells
    # prune the corpus to the query's cell, PQ ADC ranks the survivors —
    # cell assignment + encode are map-only passes against broadcast
    # constants; candidates join encode<->cell on their id only.
    from datajudge_spark.pipeline.similarity import pq_codebook, topk_ivf_pq

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    cb = pq_codebook(emb, n_codes=_PQ_CODES, v_id="vec_id", v_vec="embedding")
    return topk_ivf_pq(q, c, cent, cb, m=_PQ_M, k=_PQ_K)


def q_ann_recall_ivf(spark, sf_dir):
    # the ANN quality gate: per-query recall@3 of the IVF search against
    # exact brute-force ground truth on the same query sample — the
    # measurement every IVF/PQ deployment runs before trusting an index
    from datajudge_spark.pipeline.similarity import (
        recall_at_k,
        topk_bruteforce,
        topk_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centvec")
    )
    exact = topk_bruteforce(q, c, k=3)
    approx = topk_ivf(q, c, cent, k=3)
    return recall_at_k(approx, exact, k=3)


def q_grouped_quantile_grid(spark, sf_dir):
    # per-segment exact decile grid vs the pooled distribution — WHERE in
    # the distribution each segment drifted (grouped_ks says only how
    # far). One conditional-agg histogram + the shared bucketed
    # multi-cumulative; all 45 (group, decile) cells in one final agg.
    from datajudge_spark.operators.stats import grouped_quantile_grid

    ev = _t(spark, sf_dir, "events")
    return grouped_quantile_grid(ev, "value", "event_type", groups=_EVENT_TYPES)


def q_grouped_theil_sen(spark, sf_dir):
    # per-segment robust trend: median pairwise slope of each event
    # type's daily value total. Pair join stays within (group, day) —
    # calendar-bounded; all 5 medians from ONE conditional slope
    # histogram + the shared bucketed cumulative (no per-group windows).
    from datajudge_spark.operators.timeseries import grouped_theil_sen

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(_cents("value"))
            .alias("cents")
        )
    )
    return grouped_theil_sen(daily, "event_type", "cents", groups=_EVENT_TYPES)


def q_multimodal_audio_windows(spark, sf_dir):
    # audio-framing stand-in: OVERLAPPING 32-byte windows at 16-byte hop
    # (frames are disjoint; STFT-style windows overlap) through the Arrow
    # mapInPandas path, digested per window
    from datajudge_spark.pipeline import multimodal

    media = multimodal.attach_binary_payload(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    out = multimodal.audio_windows(media, win_bytes=32, hop_bytes=16)
    return out.select(
        "doc_id",
        F.col("win_idx").cast("bigint").alias("win_idx"),
        F.col("win_len").cast("bigint").alias("win_len"),
        F.md5("window").alias("win_md5"),
    )


def q_boilerplate_ngrams(spark, sf_dir):
    # corpus boilerplate: word 3-grams shared by >=5 docs across >=2
    # sources (cross-site repetition = boilerplate, within-site =
    # navigation), top-100 by document frequency. Only 60-bit hashes
    # shuffle; top-k via TakeOrderedAndProject, no global sort.
    from datajudge_spark.pipeline.text import boilerplate_ngrams

    d = _t(spark, sf_dir, "documents")
    return boilerplate_ngrams(
        d,
        "doc_id",
        "text",
        shingle_n=_SHINGLE_N,
        min_docs=5,
        min_sources=2,
        source_col="source",
        k=100,
    )


def q_weekly_seasonality(spark, sf_dir):
    # does daily revenue breathe weekly?  ANOVA R² of the daily series
    # on weekday phase — integer-exact per-phase (n, Σx, Σx²) decimals,
    # one 7-row aggregate over the calendar-bounded daily frame, doubles
    # only in the final parse-tree-portable ratio.
    from datajudge_spark.operators.timeseries import (
        daily_totals,
        seasonality_strength,
    )

    o = _t(spark, sf_dir, "orders")
    daily = daily_totals(o, "o_orderdate", F.sum(_cents("o_totalprice")), alias="cents")
    return seasonality_strength(daily, "cents", period=7)


def q_grouped_ols_trend(spark, sf_dir):
    # per-priority revenue trend holding the weekend effect out:
    # daily cents ~ b0 + b1·daynum + b2·is_weekend, solved per group by
    # Cramer on ONE pass of decimal-exact sufficient statistics
    # (operators.timeseries.grouped_ols2).  Weekday phase is epoch-day
    # mod 7 (engine-portable; dayofweek() origins differ).
    from datajudge_spark.operators.timeseries import grouped_ols2

    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
        .select(
            "prio",
            F.datediff(
                F.col("day"), F.lit("1992-01-01").cast("date")
            ).alias("dnum"),
            F.pmod(
                F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
                F.lit(7),
            )
            .isin(2, 3)
            .cast("int")
            .alias("wkend"),
            "cents",
        )
    )
    return grouped_ols2(daily, "prio", "dnum", "wkend", "cents").select(
        F.col("grp").alias("prio"), "n", "beta0", "beta1", "beta2", "r2"
    )


def q4_order_priority(spark, sf_dir):
    # TPC-H Q4 shape: date-windowed orders semi-joined to late lineitems
    # (EXISTS with a correlated range predicate), counted by priority.
    # The semi-join hash-partitions on the order key with the date range
    # as a post-join filter — no row from lineitem survives the join, so
    # the shuffle carries keys, not payloads.  (The synthetic lineitem
    # has no commit/receipt dates; "late" = shipped >30 days after the
    # order date, preserving the plan shape.)
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("__ship")
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("__ship")
            > F.date_add(F.col("o_orderdate").cast("date"), 30)
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q18_large_orders(spark, sf_dir):
    # TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    # (HAVING over a pre-aggregated lineitem — the big side aggregates
    # BEFORE any join, so the join input is |qualifying orders| rows),
    # joined to customer, top-100 by price via TakeOrderedAndProject.
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__sumq")
        )
        .where(F.col("__sumq") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(big, F.col("o_orderkey") == F.col("l_orderkey")).join(
        c, F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_day"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias(
                "total_price"
            ),
            F.round(F.col("__sumq").cast("double"), 6).alias("sum_qty"),
            F.col("o_totalprice").alias("__sort_price"),
        )
        .orderBy(
            F.col("__sort_price").desc(),
            F.col("order_day").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
        .drop("__sort_price")
    )


def q21_suppliers_waiting(spark, sf_dir):
    # TPC-H Q21 shape: EXISTS + NOT EXISTS against the SAME table with
    # different correlation — suppliers who were the ONLY late supplier
    # on a finished multi-supplier order.  (The synthetic lineitem has
    # no commit/receipt dates; "late" = shipped >30 days after the
    # order date, the same substitution as q4_order_priority.)
    #
    # Plan: the late frame (lineitem ⋈ status-filtered orders, one hash
    # join on the order key) is computed ONCE and persisted — it is both
    # the probe side (l1) and the NOT-EXISTS side (l3).  The EXISTS
    # becomes a left-semi against the bare (orderkey, suppkey)
    # projection, the NOT EXISTS a left-anti against the late frame;
    # both shuffle on l_orderkey — the SAME key as the build join, so
    # the exchange is reused, and neither carries payload columns.
    # supplier ⋈ nation ⋈ region is the broadcast dimension chain.
    from datajudge_spark.pipeline._util import materialize_once

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("__ship")
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", F.col("o_orderdate").cast("date").alias("__od"))
    late = materialize_once(
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("__ship") > F.date_add(F.col("__od"), 30))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    l1 = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.join(
                    F.broadcast(r),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        l1.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def q20_volume_suppliers(spark, sf_dir):
    # TPC-H Q20 shape: nested semi-join-into-semi-join — suppliers (in a
    # region) having a QUALIFYING stake in a QUALIFYING part, where the
    # stake test is a decorrelated scalar comparison against a per-part
    # aggregate (reference's anti/semi family generalized,
    # /root/reference/src/datajudge/db_access.py:475-496).  No partsupp
    # in the synthetic schema, so availability becomes shipped volume:
    # a supplier qualifies if its pre-1996 shipped quantity of a
    # 'large%' part exceeds 6% of that part's all-time total.
    #
    # Plan shape (the one you'd want at 100 TB):
    # - the part-name filter broadcasts as a LEFT SEMI below BOTH
    #   lineitem aggregates, so the expensive groupBys only ever see
    #   qualifying-part rows (semi join #1, inside the chain);
    # - the share test joins two already-aggregated frames on
    #   l_partkey (|parts| rows, not |lineitem|), integer-exact in
    #   cents (100*c95 > 6*ctot — no double division);
    # - the distinct candidate suppliers broadcast as the SEMI side of
    #   the supplier probe (semi join #2) — supplier never shuffles.
    pf = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("large%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_partkey",
        "l_shipdate",
        _cents("l_quantity").alias("__c"),
    )
    li_parts = li.join(
        F.broadcast(pf),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    q95 = (
        li_parts.where(F.col("l_shipdate") < F.lit("1996-01-01"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("__c").cast("bigint").alias("c95"))
    )
    qtot = (
        li_parts.groupBy("l_partkey")
        .agg(F.sum("__c").cast("bigint").alias("ctot"))
    )
    cand = (
        q95.join(qtot, "l_partkey")
        .where(F.col("c95") * 100 > F.col("ctot") * 6)
        .select("l_suppkey")
        .distinct()
    )
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_regionkey").isin(0, 1)
    ).select("n_nationkey", "n_name")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        sup.join(
            F.broadcast(cand),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def q8_market_share(spark, sf_dir):
    # TPC-H Q8 shape: national market share — NATION_15's slice of the
    # AMERICA-region PROMO-part market by order year.  The nation table
    # joins in TWO roles (supplier side for the share numerator,
    # customer side for the region gate); the share is a conditional
    # sum over ONE aggregated pass — numerator and denominator never
    # scan the fact twice.  Exact: bigint cent volumes, 6dp share.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    cn = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("c_nk")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    ec, dc = _cents("l_extendedprice"), _cents("l_discount")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    vol = dec(ec * (100 - dc))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(vol).cast("bigint").alias("total_volume_scaled"),
            F.sum(
                F.when(F.col("supp_nation") == "NATION_15", vol).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            )
            .cast("bigint")
            .alias("nation_volume_scaled"),
        )
        .withColumn(
            "mkt_share",
            F.round(
                F.col("nation_volume_scaled").cast("double")
                / F.col("total_volume_scaled").cast("double"),
                6,
            ),
        )
    )


def q2_min_cost_supplier(spark, sf_dir):
    # TPC-H Q2 shape: correlated scalar MIN subquery — for each
    # qualifying part, the supplier(s) in a region achieving the
    # minimum supply cost.  (No partsupp table in the synthetic schema;
    # supply cost of (part, supplier) = MIN unit price ever charged,
    # derived from lineitem.)  The correlated subquery is decorrelated
    # the way Catalyst itself would: a per-part MIN aggregate joined
    # back on (partkey, cost == min) — both sides of the join-back come
    # from the SAME aggregated cost frame (persisted once), partitioned
    # on the part key; part and the supplier⋈nation⋈region chain
    # broadcast onto it.
    from datajudge_spark.pipeline._util import materialize_once

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.join(
                    F.broadcast(r),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    costs = materialize_once(
        li.join(F.broadcast(s.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double")
            ).alias("cost")
        )
    )
    min_cost = costs.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("cost").alias("__min_cost")
    )
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 25)
    )
    winners = costs.join(
        min_cost,
        (F.col("l_partkey") == F.col("__pk"))
        & (F.col("cost") == F.col("__min_cost")),
    )
    return (
        winners.join(
            F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.round(F.col("s_acctbal").cast("double"), 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round(F.col("cost"), 6).alias("supply_cost"),
        )
        .orderBy(
            F.col("acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


def q11_important_parts(spark, sf_dir):
    # TPC-H Q11 shape: group value vs a GLOBAL scalar threshold — the
    # per-part revenue aggregate cross-joins the broadcast 1-row
    # (total, n_parts) aggregate and keeps parts whose revenue exceeds
    # 1.5x the mean part revenue — scale-free, unlike a fixed share
    # threshold, so the query is non-vacuous at every SF.  The cut is
    # decimal-integer arithmetic (v * n * 2 > 3 * total), never a
    # double division, so it is bit-identical cross-engine.  One
    # shuffle (the partkey aggregate); the total rides a second pass
    # over the same aggregated frame, not the fact table.
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(3,2)")
        )
    )
    rev = li.groupBy("l_partkey").agg(val.alias("__v"))
    total = rev.agg(
        F.sum("__v").alias("__t"), F.count(F.lit(1)).alias("__np")
    )
    return (
        rev.crossJoin(F.broadcast(total))
        .where(F.col("__v") * F.col("__np") * 2 > F.col("__t") * 3)
        .select(
            F.col("l_partkey").cast("bigint").alias("part_key"),
            (F.col("__v") * 10000).cast("bigint").alias("value_e4"),
        )
        .orderBy(F.col("value_e4").desc(), F.col("part_key").asc())
    )


def q22_idle_customers(spark, sf_dir):
    # TPC-H Q22 shape: scalar AVG subquery + anti join — customers
    # with above-average positive balance and no RECENT order (the
    # synthetic corpus gives nearly every customer some lifetime order,
    # so the canonical no-order-ever test would be vacuous), summarized
    # per nation.  The average never materializes as a double: the
    # filter is bal * n > sum (decimal-exact, broadcast 1-row
    # aggregate); the order check is a left-anti hash join on the
    # customer key with the date filter pushed to the orders scan.
    c = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    rich = c.crossJoin(F.broadcast(pos)).where(bal * F.col("__n") > F.col("__s"))
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    )
    idle = rich.join(
        recent.select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return idle.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation_key")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum(bal) * 100).cast("bigint").alias("totacctbal_cents"),
    )


def q19_disjunctive_revenue(spark, sf_dir):
    # TPC-H Q19 shape: equi join with an OR-of-ANDs residual — the
    # disjunction must stay a residual filter on the partkey hash join
    # (never degrade to a nested-loop), with the common l_quantity
    # bounds pushed to the scan.  Part broadcasts; one digest row.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(3,2)")
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(
            (rev * 10000).cast("bigint").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q14_promo_revenue_share(spark, sf_dir):
    # TPC-H Q14 shape: conditional-aggregation share — promo revenue as
    # a fraction of total revenue in one month, computed in ONE pass
    # over the join (sum(when(promo)) / sum(all)); part broadcasts.
    # Both sums are decimal-exact; only the final share divides as one
    # double op over the e4 integers.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-03-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)")
        - F.col("l_discount").cast("decimal(3,2)")
    )
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        (F.sum(F.when(F.col("p_type") == "PROMO", rev)) * 10000)
        .cast("bigint")
        .alias("promo_rev_e4"),
        (F.sum(rev) * 10000).cast("bigint").alias("total_rev_e4"),
    ).select(
        "promo_rev_e4",
        "total_rev_e4",
        F.round(
            F.lit(100.0)
            * F.col("promo_rev_e4").cast("double")
            / F.col("total_rev_e4").cast("double"),
            6,
        ).alias("promo_pct"),
    )


def q_grouped_approx_distinct(spark, sf_dir):
    # per-group HLL sketch bounded against per-group exact distinct in
    # ONE aggregate pass (both aggregates ride the same groupBy) — the
    # grouped form of approx_distinct_check; within_tol TRUE asserts
    # every group's sketch landed inside 3x its rsd
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_distinct(F.col("o_custkey")).alias("exact_distinct"),
            F.approx_count_distinct("o_custkey").alias("__approx"),
        )
        .select(
            "o_orderpriority",
            "exact_distinct",
            (
                F.abs(F.col("__approx") - F.col("exact_distinct"))
                <= 0.15 * F.col("exact_distinct")
            ).alias("within_tol"),
        )
    )


def q_graph_triangles(spark, sf_dir):
    # exact triangle census of the nation trade graph: ordered
    # node-iterator joins (each triangle u<v<w found once), wedge count
    # from one degree aggregate — the community-structure health check
    # completing the graph family (PageRank, BFS, components).
    from datajudge_spark.operators.graph import triangle_stats

    edges = _trade_edges(spark, sf_dir)
    return triangle_stats(edges, "src", "dst")


def q_isotonic_calibration(spark, sf_dir):
    # monotone calibration of price against quantity: weighted PAVA via
    # the minimax identity — prefix sums over the 32-bucket frame, j<=k
    # pair grid (bounded by construction), suffix running min + prefix
    # max. DECIMAL-exact interval sums; one double division per
    # interval mean; minimax is comparison-only.
    from datajudge_spark.operators.stats import isotonic_calibration

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        _cents("l_quantity").alias("q_cents"),
        _cents("l_extendedprice").alias("p_cents"),
    )
    return isotonic_calibration(base, "q_cents", "p_cents", n_buckets=32)


def q_mahalanobis_outliers(spark, sf_dir):
    # joint (quantity, price) outliers: pairs unremarkable in each
    # margin but impossible together. Distinct-pair collapse, decimal-
    # exact sufficient statistics broadcast back, map-only closed-form
    # 2x2 Mahalanobis scoring, TakeOrderedAndProject top-20.
    from datajudge_spark.operators.stats import mahalanobis_outliers_2d

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        _cents("l_quantity").alias("q_cents"),
        _cents("l_extendedprice").alias("p_cents"),
    )
    out = mahalanobis_outliers_2d(base, "q_cents", "p_cents", k=20)
    return out.select(
        F.col("x").alias("q_cents"),
        F.col("y").alias("p_cents"),
        "cnt",
        "d2",
    )


def q_graph_assortativity(spark, sf_dir):
    # degree mixing of the STRONG trade graph (edges above 1.5x the
    # mean lineitem-count weight — the full 25-nation graph is near-
    # complete, all degrees equal, assortativity undefined). Decimal-
    # exact sufficient statistics over both edge orientations; one
    # double conversion at the end.
    from datajudge_spark.operators.graph import degree_assortativity
    from datajudge_spark.pipeline._util import materialize_once

    edges = materialize_once(_trade_edges(spark, sf_dir))
    avg_w = edges.agg(F.avg("w").alias("__aw"))
    strong = edges.crossJoin(F.broadcast(avg_w)).where(
        F.col("w") > 1.5 * F.col("__aw")
    )
    return degree_assortativity(strong, "src", "dst")


def q_mutual_information(spark, sf_dir):
    # how much does event type tell you about day-of-week?  MI + NMI in
    # nats over the same contingency cells as chi_squared — one groupBy
    # shuffle, margins aggregate the CELLS, log-sum form (no o·N
    # integer product to overflow at scale).
    from datajudge_spark.operators.stats import mutual_information

    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ),
        F.lit(7),
    )
    base = ev.select(F.col("event_type").alias("et"), dow.alias("dow"))
    return mutual_information(base, "et", "dow")


def q_js_divergence(spark, sf_dir):
    # Jensen-Shannon drift between click and view value distributions —
    # symmetric, bounded by ln 2, finite on disjoint support; completes
    # the drift family next to PSI (unbounded), KS (sup), EMD (integral)
    from datajudge_spark.operators.stats import js_divergence

    ev = _t(spark, sf_dir, "events")
    return js_divergence(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        "value",
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    )


def q_anderson_darling(spark, sf_dir):
    # tail-sensitive two-sample test (Scholz-Stephens A² for k=2)
    # between click and view value distributions on the exact cents
    # domain — the rank-statistic companion that weights the CDF gap by
    # 1/(B(N-B)), so tail disagreement the KS sup misses still fires.
    # Plan: one union-histogram shuffle + the shared bucket-partitioned
    # cumulative (no global window at any cardinality); DECIMAL-exact
    # numerators make the digest engine-reproducible.
    from datajudge_spark.operators.stats import rank_2sample_tests

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        _cents("value").alias("c")
    )
    b = ev.where(F.col("event_type") == "view").select(
        _cents("value").alias("c")
    )
    return rank_2sample_tests(a, b, "c", "c").select(
        "n1", "n2", F.round("ad", 6).alias("ad")
    )


def q_cramer_von_mises(spark, sf_dir):
    # integral-squared two-sample test (Anderson 1962, tie-weighted)
    # between click and purchase value distributions — completes the
    # drift family: PSI (binned log-ratio), KS (sup), EMD (L1 of CDF
    # gap), AD (tail-weighted L2), CvM (plain L2).  Same single-shuffle
    # bucketed-cumulative plan as anderson_darling.
    from datajudge_spark.operators.stats import rank_2sample_tests

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        _cents("value").alias("c")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        _cents("value").alias("c")
    )
    return rank_2sample_tests(a, b, "c", "c").select(
        "n1", "n2", F.round("cvm", 6).alias("cvm")
    )


def q_cross_cdf_dates(spark, sf_dir):
    # cross-CDF on a TEMPORAL column (order dates of high- vs
    # low-priority orders) — the driver row for the round-8 regression
    # fix: date/timestamp route through the repartitionByRange variant
    # of the offset construction (float bucket arithmetic is invalid on
    # datetimes).  Digest = per-month tail of the joint CDF.
    from datajudge_spark.operators.stats import get_cross_cdf
    from datajudge_spark.reference import DataReference
    from datajudge_spark.sources import ExpressionDataSource

    orders = _t(spark, sf_dir, "orders")
    ref1 = DataReference(
        ExpressionDataSource(
            orders.where(F.col("o_orderpriority") == "1-URGENT"), "o_hi"
        ),
        ["o_orderdate"],
    )
    ref2 = DataReference(
        ExpressionDataSource(
            orders.where(F.col("o_orderpriority") == "5-LOW"), "o_lo"
        ),
        ["o_orderdate"],
    )
    filled, c1, c2 = get_cross_cdf(spark, ref1, ref2)
    # compact digest: last value per month (the monthly joint-CDF curve)
    monthly = (
        filled.groupBy(
            F.date_trunc("month", "val").cast("date").alias("month")
        )
        .agg(
            F.max_by(F.round(F.col(c1), 6), F.col("val")).alias("cdf1"),
            F.max_by(F.round(F.col(c2), 6), F.col("val")).alias("cdf2"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .orderBy("month")
    )
    return monthly


def q_zipf_slope(spark, sf_dir):
    # corpus-health gate on the HEAD of the token distribution: OLS
    # slope of ln(freq) on ln(rank) over the top-500 tokens (natural
    # text ~ -1; flat = boilerplate domination, cliff = looping
    # vocabulary).  Explode -> hash-agg -> TakeOrderedAndProject top-N
    # (per-partition heaps, deterministic (count DESC, token ASC)
    # boundary) -> closed-form OLS over the bounded frame.
    from datajudge_spark.pipeline.text import zipf_slope

    docs = _t(spark, sf_dir, "documents")
    return zipf_slope(docs, "text", top_n=500)


def q_contrastive_negatives(spark, sf_dir):
    # deterministic negative sampling for contrastive training: for the
    # five lowest vec_ids, four md5-argmin negatives each with a
    # DIFFERENT label — RNG-free, auditable, identical across engines
    # and runs.  Broadcast (q, label, draw) spec onto the corpus;
    # map-side partial min_by keeps the shuffle at one candidate per
    # (q, draw) per task.
    from datajudge_spark.pipeline.sampling import contrastive_negatives

    emb = _t(spark, sf_dir, "embeddings")
    qids = [r["vec_id"] for r in
            emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    return contrastive_negatives(emb, "vec_id", "label", qids, 4)


def q_multimodal_decode_real(spark, sf_dir):
    # REAL image decode golden (VERDICT r7 item 7): committed fixture
    # bytes (2 hand-built PNGs, a 24bpp BMP, a P6 PNM, one corrupt
    # payload) flow through the SAME Arrow mapInPandas plumbing as the
    # corpus decode (pipeline.multimodal.decode_image_meta); the oracle
    # is the hard-coded truth (dimensions + payload md5) of those bytes.
    # When Pillow is present the test suite cross-checks this parser
    # against it (tests/test_pipeline.py).
    import os

    from datajudge_spark.pipeline.multimodal import decode_image_meta

    fix_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "images",
    )
    rows = []
    for i, name in enumerate(sorted(os.listdir(fix_dir))):
        with open(os.path.join(fix_dir, name), "rb") as fh:
            rows.append((i, name, bytearray(fh.read())))
    media = spark.createDataFrame(
        rows, "doc_id long, name string, payload binary"
    )
    meta = decode_image_meta(media.select("doc_id", "payload"))
    return (
        media.select("doc_id", "name", F.md5("payload").alias("payload_md5"))
        .join(meta, "doc_id")
        .select("name", "n_bytes", "width", "height", "mode", "payload_md5")
        .orderBy("name")
    )


def q_streaming_late_data(spark, sf_dir):
    """14th streaming contract query — LATE and OUT-OF-ORDER arrival
    (VERDICT r7 item 3).  The events table is split into three files
    arriving as three CONSECUTIVE availableNow drains over one shared
    checkpoint (the production incremental-ingest shape; within a
    single availableNow run Spark 4.1 plans every batch against the
    run's STARTING watermark, so cross-run recovery is what actually
    exercises the filter): (1) all rows except a held-back slice,
    (2) the final days plus the held-back slice arriving LATE but
    within the 3-day watermark, (3) a duplicate re-send of an old day
    arriving BEYOND the watermark.  Update-mode emissions folded by
    max(n) must equal the plain batch GROUP BY: within-watermark late
    rows are counted exactly once, beyond-watermark re-sends are
    dropped — the two guarantees a 100 TB streaming ingest needs from
    event-time processing."""
    import os

    from datajudge_spark.pipeline._util import materialize_once
    from datajudge_spark.sources import normalize_event_time, read_parquet
    from datajudge_spark.streaming import StreamScope, windowed_counts

    # keeps the watermark-flush batch: the watermark recovered from the
    # shared checkpoint feeds the NEXT drain's late-row filter
    with StreamScope(spark) as scope:
        # persisted for the scope: the bounds probe + the staged slice
        # write both read the normalized frame — one parquet scan, not two
        ev_all = materialize_once(
            normalize_event_time(
                read_parquet(scope.session, f"{sf_dir}/events.parquet")
            ).withColumn("event_ts", F.col("ts").cast("timestamp"))
        )
        max_day = ev_all.agg(
            F.max(F.col("event_ts").cast("date")).alias("mx")
        ).first()["mx"]
        # deterministic slices by event day (D = max_day):
        #   file 1: day <= D-3, EXCEPT a held-back slice of day D-3
        #           (event_id % 5 == 0)
        #   file 2: days D-2..D  +  the held-back D-3 slice (late, within
        #           the 3-day watermark)
        #   file 3: re-send of ALL day D-6 rows (beyond watermark -> must
        #           be dropped, else that day double-counts)
        day = F.col("event_ts").cast("date")
        d3 = F.date_sub(F.lit(max_day), 3)
        d6 = F.date_sub(F.lit(max_day), 6)
        held = (day == d3) & (F.col("event_id") % 5 == 0)
        # all three arrival slices written in ONE job (the slices overlap
        # — file 3 re-sends day D-6 rows already in file 1 — so a row
        # carries an ARRAY of slice labels and explodes; repartition by
        # slice gives one file per slice directory).  Within-file row
        # order is irrelevant (the drains aggregate counts).
        lab = F.array(
            F.when((day <= d3) & ~held, F.lit(0)),
            F.when((day > d3) | held, F.lit(1)),
            F.when(day == d6, F.lit(2)),
        )
        gen = os.path.join(scope.dir, "gen")
        (
            ev_all.withColumn(
                "__slice",
                F.explode(F.filter(lab, lambda x: x.isNotNull())),
            )
            .repartition(3, "__slice")
            .write.partitionBy("__slice")
            .parquet(gen)
        )
        # one checkpointed availableNow drain per arriving file; the
        # foreachBatch sink collects every update-mode emission (tiny:
        # only keys whose count changed in that batch).  State —
        # including the watermark — recovers from the checkpoint
        # between drains.
        emitted = []

        def _sink(batch_df, _bid):
            emitted.extend(
                batch_df.select(
                    F.col("window_start").cast("date").alias("day"),
                    "event_type",
                    "n_rows",
                ).collect()
            )

        for i in range(3):
            sub = os.path.join(gen, f"__slice={i}")
            part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
            out = windowed_counts(
                scope.stream(os.path.join(sub, part)),
                "event_ts",
                window_duration="1 day",
                watermark_delay="3 days",
                group_cols=["event_type"],
            )
            scope.drain(out, "update", _sink)
    # update mode re-emits a key each time its count grows; the final
    # value per key is the max across all drains.
    final: dict = {}
    for r in emitted:
        k = (r["day"], r["event_type"])
        final[k] = max(final.get(k, 0), r["n_rows"])
    return spark.createDataFrame(
        [(d, t, n) for (d, t), n in sorted(final.items())],
        "day date, event_type string, n_rows bigint",
    )


def q_streaming_ab_ztest(spark, sf_dir):
    """15th streaming contract query: sequential A/B monitoring.  The
    four experiment counts (two populations x {all, successes}) are
    associative conditional aggregates, so the ONE complete-mode state
    row after the availableNow drain equals the batch counts exactly;
    the drained row feeds the IDENTICAL z expression tree the batch
    operator uses (operators.stats.ztest_from_counts) — hash-equal to
    the SQL oracle."""
    from datajudge_spark.operators.stats import ztest_from_counts
    from datajudge_spark.streaming import StreamScope, streaming_ab_counts

    with StreamScope(spark, watermark_flush=False) as scope:
        day = F.dayofmonth(F.col("ts").cast("timestamp"))
        counts = streaming_ab_counts(
            _event_stream(scope, sf_dir),
            day <= 15,
            day >= 16,
            F.col("event_type") == "purchase",
        )
        state = scope.collect(counts, "complete")
    return ztest_from_counts(state)


def q_grouped_psi(spark, sf_dir):
    # per-SEGMENT drift: PSI of the value distribution per event type
    # between the first and second half of the month — "which segment
    # drifted?", the question the global psi_drift digest averages
    # away.  One conditional-agg scan; totals window partitioned by
    # group (never global).
    from datajudge_spark.operators.stats import grouped_psi

    ev = _t(spark, sf_dir, "events")
    day = F.dayofmonth(F.col("ts").cast("timestamp"))
    return grouped_psi(
        ev,
        "event_type",
        "value",
        day <= 15,
        day >= 16,
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    ).orderBy("event_type")


def q_jarque_bera(spark, sf_dir):
    # normality screen per event type on the exact cents domain: sample
    # skewness/kurtosis and the Jarque-Bera statistic from DECIMAL-exact
    # power sums (one agg scan).  JB >> 6 = sigma-rule gates (z-score,
    # 3-sigma alerts) are built on a false premise for that segment.
    from datajudge_spark.operators.stats import jarque_bera

    ev = _t(spark, sf_dir, "events")
    return jarque_bera(
        ev.select("event_type", _cents("value").alias("c")),
        "c",
        group_col="event_type",
    ).orderBy("event_type")


def q_two_proportion_ztest(spark, sf_dir):
    # A/B experimentation primitive: pooled two-proportion z-test on
    # purchase rate, first half vs second half of the month — exact
    # integer counts from ONE conditional-agg scan, one fixed double
    # expression for z.
    from datajudge_spark.operators.stats import two_proportion_ztest

    ev = _t(spark, sf_dir, "events")
    day = F.dayofmonth(F.col("ts").cast("timestamp"))
    return two_proportion_ztest(
        ev,
        day <= 15,
        day >= 16,
        F.col("event_type") == "purchase",
    )


def q_kendall_tau(spark, sf_dir):
    # tie-adjusted Kendall tau-b between daily order count and daily
    # revenue (1995): do busier days carry proportionally bigger
    # baskets?  Heavy ties on the count side are exactly where
    # spearman's rank variance misleads; tau-b's denominator corrects
    # for tie mass.  Pair join runs on the calendar-bounded daily frame
    # (365 rows at ANY fact-table scale).
    from datajudge_spark.operators.timeseries import kendall_tau_b

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("rev_c"),
        )
    )
    return kendall_tau_b(daily, "n_orders", "rev_c")


def q_cuped_ab(spark, sf_dir):
    # CUPED variance-reduced A/B difference (Deng et al. 2013): each
    # user's second-half spend adjusted by their first-half spend
    # (theta = pooled cov/var), assignment = user_id parity.  The
    # experimentation-platform primitive that makes small effects
    # detectable without more traffic.  One groupBy(user) shuffle ->
    # one sufficient-statistics scan -> 1-row digest; every sum
    # DECIMAL-exact.
    from datajudge_spark.operators.stats import cuped_adjusted_diff

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = F.dayofmonth(F.col("ts").cast("timestamp"))
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(day <= 15, _cents("value")).otherwise(F.lit(0))
            ).alias("pre_c"),
            F.sum(
                F.when(day >= 16, _cents("value")).otherwise(F.lit(0))
            ).alias("post_c"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    return cuped_adjusted_diff(units, "pre_c", "post_c", "variant")


def q_logrank(spark, sf_dir):
    # two-group log-rank test on user-lifetime survival (even vs odd
    # user ids — a deterministic A/B split): "are the two cohorts'
    # churn curves actually different?"  Same duration/censoring
    # construction as kaplan_meier; O/E/V summed over the
    # duration-ordered bounded frame (KM determinism contract).
    from datajudge_spark.operators.timeseries import logrank_test

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = ev.agg(
        F.date_sub(F.max(F.col("ts").cast("date")), 14).alias("__h")
    )
    subj = per_user.join(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(F.col("last_d") < F.col("__h"), 1).otherwise(0).alias("ev"),
        (F.col("user_id") % 2).cast("int").alias("grp"),
    )
    return logrank_test(subj, "dur", "ev", "grp")


def q_stratified_ab(spark, sf_dir):
    # post-stratification adjusted A/B difference of per-user spend:
    # each stratum's within-stratum contrast weighted by its pooled
    # share — removes variant imbalance across strata (the categorical
    # complement to cuped_ab's linear adjustment).  One groupBy(user)
    # shuffle -> one grouped conditional-agg scan -> stratum-ordered
    # fold over the bounded strata frame.
    from datajudge_spark.operators.stats import post_stratified_diff

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    units = (
        ev.groupBy("user_id")
        .agg(F.sum(_cents("value")).alias("spend_c"))
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
        .withColumn("stratum", (F.col("user_id") % 5).cast("int"))
    )
    return post_stratified_diff(units, "spend_c", "variant", "stratum")


def q_ratio_ab_ztest(spark, sf_dir):
    # Delta-method ratio-metric A/B (Deng/Knoblich/Lu KDD 2018): per-user
    # purchase-per-event rate between user-parity variants.  A
    # ratio-of-sums is not a mean of unit ratios, so the naive z
    # variance is wrong; sufficient stats (n, SN, SD, SNN, SDD, SND)
    # accumulate DECIMAL-exact in ONE conditional-agg scan over the
    # per-user frame, (co)variance numerators computed in DECIMAL (no
    # double cancellation), one double conversion.  Completes the A/B
    # family: binary / linear-covariate / categorical / ratio /
    # sequential.
    from datajudge_spark.operators.stats import ratio_metric_ztest

    ev = _t(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.count(
                F.when(F.col("event_type") == "purchase", 1)
            ).alias("purchases"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    return ratio_metric_ztest(units, "purchases", "n_events", "variant")


def q_sample_ratio_mismatch(spark, sf_dir):
    # SRM chi-square — the first gate every experimentation platform
    # runs: observed assignment counts vs the configured 50/30/20
    # split (variant derived from user_id % 10, so the test is a real
    # uniformity check on the id space).  One groupBy(variant) count
    # (map-side partial), then a level-ORDERED bounded window fold for
    # cross-engine determinism; unknown variants RAISE inside the plan.
    from datajudge_spark.operators.stats import sample_ratio_mismatch

    ev = _t(spark, sf_dir, "events")
    m = F.col("user_id") % 10
    variant = (
        F.when(m < 5, F.lit("a")).when(m < 8, F.lit("b")).otherwise(F.lit("c"))
    )
    return sample_ratio_mismatch(
        ev.select(variant.alias("variant")),
        "variant",
        {"a": 0.5, "b": 0.3, "c": 0.2},
    )


def q_pettitt_changepoint(spark, sf_dir):
    # Pettitt rank-based change-point on daily 1995 order volume: the
    # nonparametric (median-shift) companion to cusum_changepoint —
    # robust where a heavy-tailed day would drag the mean-based CUSUM.
    # U_t stays integer-exact via mid-ranks in DECIMAL; both ordered
    # windows run on the calendar-bounded daily frame (365 rows at ANY
    # fact-table scale); argmax is TakeOrdered(1).
    from datajudge_spark.operators.timeseries import pettitt_changepoint

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("total"))
    )
    return pettitt_changepoint(daily)


def q_dispersion_index(spark, sf_dir):
    # Overdispersion screen: variance-to-mean of per-user event counts
    # within each event type.  Poisson arrivals give D ~ 1; D >> 1
    # means burstiness (bots, retry storms) and every Poisson-assuming
    # alert downstream is miscalibrated.  Two aggregations (groupBy
    # (type, user) then groupBy(type)), both with map-side partials;
    # variance numerator n*S2 - S1^2 computed DECIMAL-exact.
    from datajudge_spark.operators.stats import dispersion_index

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    return dispersion_index(per_user, "n_ev", group_col="event_type")


def q_minhash_query_neardup(spark, sf_dir):
    # Targeted near-dup LOOKUP (decontamination / takedown primitive):
    # which corpus docs collide with a 25-doc query set in >= 1 MinHash
    # band, with the signature-agreement Jaccard estimate.  The query
    # side broadcasts (bands AND signatures); the corpus side is the
    # same one signature pass the dedup sweep pays, then broadcast-hash
    # joins only — no self-join, no corpus shuffle beyond the signature
    # groupBy.  All hashes md5-derived, oracle-reproducible.
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.query_neardup_candidates(
        d,
        "doc_id",
        "text",
        list(range(25)),
        num_hashes=_MINHASH_K,
        shingle_n=_SHINGLE_N,
        bands=_LSH_BANDS,
        rows=_LSH_ROWS,
        min_est=0.25,
    )


def q_minhash_query_recall(spark, sf_dir):
    # Recall gate for the targeted near-dup lookup (VERDICT r9 #8):
    # per query doc (100-doc query set), the fraction of TRUE exact-Jaccard >= 0.5 corpus
    # near-dups that the banded MinHash lookup actually surfaces —
    # the eval harness that must pass before the decontamination
    # primitive is trusted.  Truth: query shingle sets broadcast, one
    # bounded-fanout intersection shuffle, corpus-size join pre-thinned
    # by i >= t*|q| against the broadcast query sizes.  t = 0.5 keeps
    # every threshold comparison exact in binary.
    from datajudge_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.query_neardup_recall(
        d,
        "doc_id",
        "text",
        list(range(100)),
        threshold=0.5,
        num_hashes=_MINHASH_K,
        shingle_n=_SHINGLE_N,
        bands=_LSH_BANDS,
        rows=_LSH_ROWS,
    )


def q_capture_recapture(spark, sf_dir):
    # Chapman capture-recapture pool estimate between two sources:
    # each source's exact-dedup fingerprint set is one "capture"; the
    # overlap yields the bias-corrected pool size and the estimated
    # documents NEITHER crawl has seen — the saturation question
    # COUNT(DISTINCT) cannot answer.  One fingerprint shuffle, one
    # conditional-agg digest row.
    from datajudge_spark.pipeline.decontam import capture_recapture

    d = _t(spark, sf_dir, "documents")
    return capture_recapture(d, "source", "text", "src0", "src1")


def q_streaming_srm(spark, sf_dir):
    # 16th streaming contract: sequential SRM monitoring.  Per-variant
    # assignment counts are associative, so the drained complete-mode
    # state frame equals the batch GROUP BY exactly; feeding it through
    # the IDENTICAL chi-square fold (srm_from_counts) hash-matches the
    # batch sample_ratio_mismatch digest.  State is O(|variants|).
    from datajudge_spark.operators.stats import srm_from_counts
    from datajudge_spark.streaming import (
        StreamScope,
        streaming_assignment_counts,
    )

    m = F.col("user_id") % 10
    variant = (
        F.when(m < 5, F.lit("a")).when(m < 8, F.lit("b")).otherwise(F.lit("c"))
    )
    with StreamScope(spark, watermark_flush=False) as scope:
        counts = streaming_assignment_counts(
            _event_stream(scope, sf_dir).select(variant.alias("variant")),
            "variant",
        )
        state = scope.collect(counts, "complete")
    return srm_from_counts(state, {"a": 0.5, "b": 0.3, "c": 0.2})


def q_did_ab(spark, sf_dir):
    # Difference-in-differences of per-user spend (pre = first half of
    # month, post = second half) between user-parity groups — the
    # quasi-experimental estimator for NON-randomized rollouts: each
    # group's own pre-period absorbs level differences.  Same per-user
    # frame as cuped_ab, different identification strategy; one
    # conditional-agg scan of DECIMAL-exact delta sufficient stats.
    from datajudge_spark.operators.stats import diff_in_diff

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = F.dayofmonth(F.col("ts").cast("timestamp"))
    units = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(day <= 15, _cents("value")).otherwise(F.lit(0))
            ).alias("pre_c"),
            F.sum(
                F.when(day >= 16, _cents("value")).otherwise(F.lit(0))
            ).alias("post_c"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    return diff_in_diff(units, "pre_c", "post_c", "variant")


def q_embedding_centroid_shift(spark, sf_dir):
    # Pairwise centroid displacement between embedding label groups:
    # mmd2 = ||c_a - c_b||^2 is the squared LINEAR-kernel MMD — the
    # first-order "did this source's embedding distribution move?"
    # screen (a mean shift breaks cosine-threshold dedup and ANN recall
    # first).  One posexplode scan + one (group, component) partial
    # agg; the pair join and the component-ORDERED fold run on the
    # |groups|*dim frame (tiny at any data scale).
    from datajudge_spark.pipeline.similarity import centroid_shift

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_shift(
        emb.withColumn("grp", F.concat(F.lit("l"), F.col("label"))),
        "embedding",
        "grp",
    )


def q_join_explosion_audit(spark, sf_dir):
    # Pre-join fanout audit of the classic accidental many-to-many:
    # lineitem self-joined on l_partkey (the dedup/pair-join shape).
    # Exact inner-join cardinality, max per-key fanout, many-to-many
    # key count, and the top-5 offenders — computed from per-key count
    # digests BEFORE paying for the join; products DECIMAL-exact (a
    # hot key overflows int64 alone at 100 TB).
    from datajudge_spark.operators.skew import join_explosion_audit

    li = _t(spark, sf_dir, "lineitem")
    return join_explosion_audit(li, "l_partkey", li, "l_partkey")


#: ORDER MATTERS: the driver's correctness gate checks the FIRST 50 keys
#: of queries() only.  The window below is the single source of truth —
#: queries() reorders itself from it, so this list IS the gate.
#: Round-9 window (VERDICT r8 items 1+6, ROUNDLOG r8 bookkeeping):
#: the 8 round-8 post-window additions that have NEVER had a driver row
#: + the full 36-query r4 cohort (oldest remaining driver rows -> after
#: this round nothing is older than r5) + the 6 round-9 additions.
def q_welch_ttest(spark, sf_dir):
    # Welch unequal-variance mean A/B on per-user event counts between
    # user-parity variants: DECIMAL-exact per-variant (n, Σx, Σx²) from
    # ONE conditional-agg scan over the per-user frame, closed-form t
    # and Welch-Satterthwaite df.  Completes the A/B family's mean gate
    # where the pooled-variance test is anti-conservative.
    from datajudge_spark.operators.stats import welch_ttest

    ev = _t(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    return welch_ttest(units, "n_events", "variant")


def q_brown_forsythe(spark, sf_dir):
    # Brown-Forsythe variance-homogeneity screen: did order-value
    # SPREAD drift apart across order priorities?  Integer cents,
    # exact per-group interpolated medians (x2 so deviations stay
    # DECIMAL-exact), one percentile shuffle + one grouped-agg shuffle,
    # then the bounded 5-row priority-ORDERED fold.
    from datajudge_spark.operators.stats import brown_forsythe

    from datajudge_spark.pipeline._util import spread

    o = _t(spark, sf_dir, "orders")
    # single-file scans land in one partition; spread the narrow
    # projection so the percentile/deviation passes parallelize
    # (no-op at multi-file scale; measured 1.22 -> 0.80 s)
    cents = spread(o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ))
    return brown_forsythe(cents, "cents", "prio")


def q_cmh_test(spark, sf_dir):
    # Cochran-Mantel-Haenszel: does purchase rate associate with the
    # user-parity variant AFTER controlling for day-of-week?  The
    # Simpson's-paradox-proof counterpart of the marginal
    # two-proportion z-test; exact per-stratum 2x2 counts from ONE
    # conditional-agg scan, 7-row stratum-ORDERED fold.
    from datajudge_spark.operators.stats import cmh_test

    ev = _t(spark, sf_dir, "events")
    return cmh_test(
        ev.select(
            F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
            "user_id",
            "event_type",
        ),
        "dow",
        F.col("user_id") % 2 == 0,
        F.col("event_type") == "purchase",
    )


def q_grouped_ztest_bh(spark, sf_dir):
    # segment scan with FDR control: per-hour-of-day two-proportion
    # z-tests (purchase rate, user-parity variants) with
    # Benjamini-Hochberg q-values across the 24 segments — the
    # multiple-testing gate that keeps a 200-segment sweep from firing
    # ~10 false positives at per-segment alpha 5%.  p via the A&S
    # 7.1.26 erfc polynomial, identical expression in the oracle.
    from datajudge_spark.operators.stats import grouped_ztest_bh

    ev = _t(spark, sf_dir, "events")
    out = grouped_ztest_bh(
        ev.select(
            F.hour(F.col("ts").cast("timestamp")).alias("hr"),
            "user_id",
            "event_type",
        ),
        "hr",
        F.col("user_id") % 2 == 0,
        F.col("user_id") % 2 == 1,
        F.col("event_type") == "purchase",
    )
    return out.orderBy("group").select(
        F.col("group").cast("int").alias("hr"),
        "n_a",
        "n_b",
        "z",
        "p_value",
        "q_value",
    )


def q_nelson_aalen(spark, sf_dir):
    # Nelson-Aalen cumulative hazard on the SAME user-lifetime frame as
    # kaplan_meier (duration = first-to-last-event days; churn observed
    # when the last event predates the horizon by >14 days): hazard
    # RATES where KM gives survival fractions; ordered windows only
    # over the bounded distinct-duration histogram.
    from datajudge_spark.operators.timeseries import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = ev.agg(
        F.date_sub(F.max(F.col("ts").cast("date")), 14).alias("__h")
    )
    subj = per_user.join(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(F.col("last_d") < F.col("__h"), 1).otherwise(0).alias("ev"),
    )
    return nelson_aalen(subj, "dur", "ev")


def q_durbin_watson(spark, sf_dir):
    # Durbin-Watson residual-autocorrelation gate on the 1995 daily
    # order-revenue OLS fit: DW near 2 = the trend line left white
    # noise; far below = runs of systematically-missed days (drift,
    # seasonality).  OLS sufficient stats DECIMAL-exact; both quadratic
    # folds index-ORDERED over the bounded 365-row daily frame.
    from datajudge_spark.operators.timeseries import durbin_watson

    o = _t(spark, sf_dir, "orders")
    daily = (
        o.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
            ).cast("bigint").alias("cents")
        )
        .select(
            F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
            .alias("t"),
            "cents",
        )
    )
    return durbin_watson(daily, "t", "cents")


def q_kruskal_wallis(spark, sf_dir):
    # k-group rank test: does ANY order priority's total-price
    # distribution sit systematically higher?  The k-group extension of
    # mann_whitney on the same tie-block identity over the shared
    # bucket-partitioned cumulative (no global window); tie-corrected
    # H'.  Pairs with brown_forsythe: rank location vs spread on the
    # same segments.
    from datajudge_spark.operators.stats import kruskal_wallis

    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return kruskal_wallis(cents, "cents", "prio")


def q_streaming_cmh(spark, sf_dir):
    # 17th streaming contract: sequential stratified-association (CMH)
    # monitoring.  Per-stratum 2x2 conditional counts are associative,
    # so the drained complete-mode state frame equals the batch
    # conditional GROUP BY exactly; feeding it through the IDENTICAL
    # fold (cmh_from_counts) hash-matches the batch cmh_test digest.
    # State is O(|strata|).
    from datajudge_spark.operators.stats import cmh_from_counts
    from datajudge_spark.streaming import (
        StreamScope,
        streaming_stratum_2x2_counts,
    )

    with StreamScope(spark, watermark_flush=False) as scope:
        counts = streaming_stratum_2x2_counts(
            _event_stream(scope, sf_dir).select(
                F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
                "user_id",
                "event_type",
            ),
            "dow",
            F.col("user_id") % 2 == 0,
            F.col("event_type") == "purchase",
        )
        state = scope.collect(counts, "complete")
    return cmh_from_counts(state)


def q_chao1_richness(spark, sf_dir):
    # capture-recapture uniques estimate: how many DISTINCT customers
    # exist beyond the ones already seen in orders?  Chao1 lower bound
    # from the frequencies-of-frequencies (f1 singletons, f2
    # doubletons) + Good-Turing unseen mass f1/n — the saturation gate
    # a bare COUNT(DISTINCT) cannot express.  Two partial-agg shuffles,
    # all-integer until the two estimator divisions.
    from datajudge_spark.operators.uniques import chao1_richness

    o = _t(spark, sf_dir, "orders")
    return chao1_richness(o, "o_custkey")


def q_rmst(spark, sf_dir):
    # restricted mean survival time at a 60-day horizon on the SAME
    # user-lifetime frame as kaplan_meier: the average event-free days
    # a user gets out of their first 60 — the scalar KM summary that
    # stays meaningful when hazards are non-proportional.  Segment fold
    # ordered over the bounded distinct-duration grid.
    from datajudge_spark.operators.timeseries import rmst

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.max(F.col("ts").cast("date")).alias("last_d"),
    )
    horizon = ev.agg(
        F.date_sub(F.max(F.col("ts").cast("date")), 14).alias("__h")
    )
    subj = per_user.join(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(F.col("last_d") < F.col("__h"), 1).otherwise(0).alias("ev"),
    )
    return rmst(subj, "dur", "ev", 60.0)


def q_sequence_monotonicity(spark, sf_dir):
    # per-user event-id monotonicity audit: within each user's
    # ts-ordered event sequence, how many adjacent steps go BACKWARD in
    # event_id?  The sequence-integrity primitive (clock skew,
    # re-ingestion, out-of-order backfill) — the only window is
    # partitioned by the user key, never global; top-5 offender users
    # rendered for actionability.
    from datajudge_spark.operators.rows import sequence_monotonicity

    ev = _t(spark, sf_dir, "events")
    return sequence_monotonicity(
        ev.select("user_id", F.col("ts").cast("timestamp").alias("t"),
                  "event_id"),
        "user_id",
        "t",
        "event_id",
    )


def q_forecast_backtest(spark, sf_dir):
    # seasonal-naive forecast backtest on 1995 daily order revenue:
    # hold out the last 14 days, predict each from 7 days earlier,
    # summarize MAE / MAPE / MASE (MAE scaled by the in-sample
    # seasonal-naive MAE — scale-free predictability).  MASE > 1 =
    # even the weekly-repeat baseline stopped working.  Bounded
    # calendar frame only; DECIMAL-exact absolute errors; the APE fold
    # is day-ORDERED.
    from datajudge_spark.operators.timeseries import forecast_backtest

    o = _t(spark, sf_dir, "orders")
    daily = (
        o.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
            ).cast("bigint").alias("cents")
        )
    )
    return forecast_backtest(daily, "day", "cents", horizon=14, period=7)


def q_grouped_welch_bh(spark, sf_dir):
    # segment sweep on MEANS with FDR control: per-event-type Welch
    # comparisons of event value (cents) between user-parity variants,
    # Benjamini-Hochberg q-values across segments — the mean-metric
    # sibling of grouped_ztest_bh, calibrated when a treatment changes
    # a segment's spread.  One conditional-agg shuffle of DECIMAL-exact
    # (n, Σx, Σx²) per (segment, side); BH windows on the bounded
    # digest only.
    from datajudge_spark.operators.stats import grouped_welch_bh

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    out = grouped_welch_bh(
        ev.select(
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        "event_type",
        "cents",
        F.col("user_id") % 2 == 0,
        F.col("user_id") % 2 == 1,
    )
    return out.orderBy("group")


def q9_product_profit(spark, sf_dir):
    # TPC-H Q9 shape: product-line profit by nation and order year.
    # No partsupp in the synthetic schema, so unit cost = 60% of the
    # part's retail price (decimal-exact 3dp); profit =
    # rev - qty*cost accumulates as DECIMAL.  part (name filter) and
    # the supplier->nation chain broadcast onto the fact scan; orders
    # joins shuffle on the order key; ONE grouped-agg shuffle on
    # (nation, year).
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    # all-integer scaled arithmetic (the q1 idiom): rev·1e4 =
    # price_cents·(100 − disc_pct); cost·1e4 = qty·retail_cents·60
    ep_cents = _cents("l_extendedprice")
    disc_pct = _cents("l_discount")
    retail_cents = _cents("p_retailprice")
    rev_e4 = (ep_cents * (100 - disc_pct)).cast("decimal(38,0)")
    cost_e4 = (
        F.col("l_quantity").cast("bigint") * retail_cents * 60
    ).cast("decimal(38,0)")
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                s.join(
                    F.broadcast(n),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(rev_e4) - F.sum(cost_e4)).cast("bigint").alias("profit_e4")
        )
        .orderBy("nation", F.col("o_year").desc())
    )



def q_cox_score(spark, sf_dir):
    # Cox proportional-hazards SCORE test: does lifetime SPEND (integer
    # cents — exact decimal sums) associate with the customer-churn
    # hazard?  Customers' active span (first..last order) is the
    # duration, churn = no order in the final year of the calendar; a
    # rich ~800-duration histogram at sf0.01 (the events table's
    # 30-day window censors everyone).  Continuous-covariate
    # generalization of q_logrank; iteration-free (score at beta=0),
    # risk-set sums are DESC-ordered cumulative decimals over the
    # bounded duration histogram — the KM determinism contract.
    from datajudge_spark.operators.timeseries import cox_score_test

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.sum(_cents("o_totalprice")).alias("spend_c"),
    )
    horizon = o.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 365)
        .alias("__h")
    )
    subj = per_cust.join(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").alias("dur"),
        F.when(F.col("last_d") < F.col("__h"), 1).otherwise(0).alias("ev"),
        F.col("spend_c"),
    )
    return cox_score_test(subj, "dur", "ev", "spend_c")


def q_qte_deciles(spark, sf_dir):
    # quantile treatment effects between parity user variants: WHERE in
    # the event-value distribution the "treatment" acted — the
    # distributional A/B readout every mean gate averages away.  Exact
    # quantile rule decided by integer comparisons on the grouped_ks
    # scaffold: one conditional-agg histogram shuffle + the shared
    # bucket-partitioned cumulative, all 9x2 cells in one final agg.
    from datajudge_spark.operators.stats import quantile_treatment_effect

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "value", (F.col("user_id") % 2).cast("int").alias("variant")
    )
    return quantile_treatment_effect(df, "value", "variant").orderBy(
        "decile"
    )


def q_grouped_qte(spark, sf_dir):
    # per-segment quantile treatment effects: WHERE in the event-value
    # distribution the parity "treatment" acted, FOR WHICH event type —
    # the segment refinement of qte_deciles (a segment-local tail
    # effect dilutes away in the pooled grid). One conditional-agg
    # histogram shuffle for all 5x2 cells + the shared
    # bucket-partitioned cumulative; integer quantile rule.
    from datajudge_spark.operators.stats import (
        grouped_quantile_treatment_effect,
    )

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "value",
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
    )
    return grouped_quantile_treatment_effect(
        df, "value", "variant", "event_type"
    ).orderBy("event_type", "decile")


def q_streaming_obf_monitor(spark, sf_dir):
    """19th streaming contract query: group-sequential A/B monitoring
    with an O'Brien-Fleming-shaped boundary.  Per-LOOK (day) counts are
    associative conditional aggregates, so the complete-mode state after
    the availableNow drain equals the batch grouped counts exactly; the
    drained frame feeds the IDENTICAL boundary fold the batch operator
    uses (operators.stats.obf_sequential_ztest) — hash-equal to the SQL
    oracle.  The critical value enters both engines as the same
    driver-computed literal (norm_ppf)."""
    from datajudge_spark.operators.stats import obf_sequential_ztest
    from datajudge_spark.streaming import StreamScope, streaming_look_counts

    with StreamScope(spark, watermark_flush=False) as scope:
        looks = streaming_look_counts(
            _event_stream(scope, sf_dir),
            F.dayofmonth(F.col("ts").cast("timestamp")),
            F.col("user_id") % 2 == 0,
            F.col("user_id") % 2 == 1,
            F.col("event_type") == "purchase",
        )
        state = scope.collect(looks, "complete")
    return obf_sequential_ztest(state).orderBy("look")


_R12_WINDOW = [
    # -- 3 round-11 additions (never driver-checked) --
    "cox_score",
    "qte_deciles",
    "streaming_obf_monitor",
    # -- 17 r6 residue (the only pre-r7 driver rows left) --
    "text_bpe_token_count",
    "text_rolling_hash",
    "ngram_topk",
    "chunk_documents",
    "text_repetition",
    "stratum_percentile_trim",
    "q20_volume_suppliers",
    "streaming_cusum",
    "ivf_neardup_pairs",
    "ivf_neardup_recall",
    "pareto_frontier",
    "q6_forecast_revenue",
    "q12_shipmode_priority",
    "q13_customer_order_counts",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    # -- 30 oldest r7-cohort sentinels in r7-window order; after this
    #    round the registry's oldest driver row is r7 --
    "null_fraction",
    "broadcast_join_agg",
    "interval_overlap",
    "regex_violations",
    "embedding_similar_pairs",
    "dedup_jaccard",
    "ann_topk_ivf",
    "decontaminate_ngram",
    "sample_stratified",
    "asof_join_forward",
    "date_growth_rate",
    "cohort_retention",
    "categorical_entropy",
    "corr_matrix",
    "mixture_weights",
    "cube_agg",
    "approx_percentile_check",
    "chi_squared",
    "winsorized_mean",
    "q10_returned_items",
    "mutual_information",
    "weighted_sample",
    "grouped_heavy_hitters",
    "density_core_points",
    "streaming_psi_buckets",
    "vocab_stats",
    "q8_market_share",
    "bm25_topk",
    "grouped_ols_trend",
    "hybrid_rrf_topk",
]
assert len(_R12_WINDOW) == 50 and len(set(_R12_WINDOW)) == 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # Registration order is arbitrary: queries() reorders from
        # _R12_WINDOW (above), the driver gate's single source of truth.
        "grouped_median": q_grouped_median,
        "grouped_ks": q_grouped_ks,
        "theil_sen_slope": q_theil_sen,
        "ann_topk_pq": q_ann_topk_pq,
        "dedup_containment": q_dedup_containment,
        "ann_topk_ivf_pq": q_ann_topk_ivf_pq,
        "ann_recall_ivf": q_ann_recall_ivf,
        "grouped_quantile_grid": q_grouped_quantile_grid,
        "grouped_theil_sen": q_grouped_theil_sen,
        "multimodal_audio_windows": q_multimodal_audio_windows,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "graph_triangles": q_graph_triangles,
        "mutual_information": q_mutual_information,
        "js_divergence": q_js_divergence,
        "q4_order_priority": q4_order_priority,
        "q18_large_orders": q18_large_orders,
        "weekly_seasonality": q_weekly_seasonality,
        "grouped_ols_trend": q_grouped_ols_trend,
        # round-5 additions (need their first driver row)
        "q21_suppliers_waiting": q21_suppliers_waiting,
        "q20_volume_suppliers": q20_volume_suppliers,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q8_market_share": q8_market_share,
        "pareto_frontier": q_pareto_frontier,
        "weighted_sample": q_weighted_sample,
        "grouped_heavy_hitters": q_grouped_heavy_hitters,
        "density_core_points": q_density_core_points,
        "vocab_stats": q_vocab_stats,
        "bm25_topk": q_bm25_topk,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q12_shipmode_priority": q12_shipmode_priority,
        "q13_customer_order_counts": q13_customer_order_counts,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "approx_topk_check": q_approx_topk_check,
        "multimodal_image_meta": q_multimodal_image_meta,
        "countmin_check": q_countmin_check,
        "bloom_filter_check": q_bloom_filter_check,
        "profile_drift": q_profile_drift,
        "q14_promo_revenue_share": q14_promo_revenue_share,
        "grouped_approx_distinct": q_grouped_approx_distinct,
        "cusum_changepoint": q_cusum_changepoint,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "grouped_js_divergence": q_grouped_js_divergence,
        "q11_important_parts": q11_important_parts,
        "q22_idle_customers": q22_idle_customers,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        # sentinels: previously-green regression cohort (r2+r3 mix,
        # the two perf-weak queries, and every operator whose code was
        # touched this round). Rotate a different cohort each round.
        "ewma_daily": q_ewma_daily,
        "ks_statistic_continuous": q_ks_statistic_continuous,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "tfidf_top_terms": q_tfidf_top_terms,
        "multimodal_meta": q_multimodal_meta,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "topk_revenue": q_topk_revenue,
        "pivot_agg": q_pivot_agg,
        "psi_drift": q_psi_drift,
        "moving_avg_daily": q_moving_avg_daily,
        "salted_join_agg": q_salted_join_agg,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "heavy_hitters": q_heavy_hitters,
        "approx_distinct_check": q_approx_distinct_check,
        "anomaly_zscore": q_anomaly_zscore,
        "scd2_intervals": q_scd2_intervals,
        "grouped_topk": q_grouped_topk,
        # ---- window boundary (50 keys above) ----
        # sentinels displaced by round-5 additions (driver-green r2)
        "corr_matrix": q_corr_matrix,
        "row_count": q_row_count,
        "percentile": q_percentile,
        "null_fraction": q_null_fraction,
        "uniques_histogram": q_uniques_histogram,
        "broadcast_join_agg": q_broadcast_join_agg,
        "interval_overlap": q_interval_overlap,
        "regex_violations": q_regex_violations,
        "cross_cdf": q_cross_cdf,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "ann_topk_ivf": q_ann_topk_ivf,
        "dedup_jaccard": q_dedup_jaccard,
        "decontaminate_ngram": q_decontaminate_ngram,
        "sample_stratified": q_sample_stratified,
        # all remaining queries have a green driver row at their most
        # recent check (r2/r3/r4 windows); stable order below.
        "snapshot_diff": q_snapshot_diff,
        "incremental_daily_merge": q_incremental_daily_merge,
        "srp_neardup_pairs": q_srp_neardup_pairs,
        "ivf_neardup_pairs": q_ivf_neardup_pairs,
        "ivf_neardup_recall": q_ivf_neardup_recall,
        "shipping_priority_topk": q_shipping_priority_topk,
        "revenue_by_nation": q_revenue_by_nation,
        "running_distinct_users": q_running_distinct_users,
        "fk_integrity": q_fk_integrity,
        "json_extract_agg": q_json_extract_agg,
        "benford_digits": q_benford_digits,
        "trend_slope": q_trend_slope,
        "event_transitions": q_event_transitions,
        "weighted_percentile": q_weighted_percentile,
        "dedup_canonical": q_dedup_canonical,
        "chunk_dedup": q_chunk_dedup,
        "zorder_digest": q_zorder_digest,
        "mad_outliers": q_mad_outliers,
        "graph_pagerank": q_graph_pagerank,
        "graph_bfs": q_graph_bfs,
        "gini_revenue": q_gini_revenue,
        "mann_whitney": q_mann_whitney,
        "chi_squared": q_chi_squared,
        "grouping_sets_agg": q_grouping_sets_agg,
        "unpivot_metrics": q_unpivot_metrics,
        "embedding_centroids": q_embedding_centroids,
        "kaplan_meier": q_kaplan_meier,
        "association_rules": q_association_rules,
        "spearman": q_spearman,
        "streaming_interval_join": q_streaming_interval_join,
        "pareto_share": q_pareto_share,
        "funnel_ordered": q_funnel_ordered,
        "embedding_covariance": q_embedding_covariance,
        "wasserstein": q_wasserstein,
        "source_dup_rate": q_source_dup_rate,
        "doc_length_histogram": q_doc_length_histogram,
        "text_bigram_logprob": q_text_bigram_logprob,
        "event_value_quartiles": q_event_value_quartiles,
        "percentile_drift": q_percentile_drift,
        "text_ttr": q_text_ttr,
        "bigram_pmi": q_bigram_pmi,
        "events_hourly_heatmap": q_events_hourly_heatmap,
        "session_paths": q_session_paths,
        "equidepth_histogram": q_equidepth_histogram,
        "winsorized_mean": q_winsorized_mean,
        "null_counts_wide": q_null_counts_wide,
        "distinct_customers_matrix": q_distinct_customers_matrix,
        "order_interarrival": q_order_interarrival,
        "q1_pricing_summary": q1_pricing_summary,
        "q10_returned_items": q10_returned_items,
        "q7_volume_shipping": q7_volume_shipping,
        "source_quality_report": q_source_quality_report,
        "asof_join_forward": q_asof_join_forward,
        "range_join": q_range_join,
        "rollup_agg": q_rollup_agg,
        "row_count_gain": q_row_count_gain,
        "date_growth_rate": q_date_growth_rate,
        "uniques_subset_violation": q_uniques_subset_violation,
        "shard_shuffle": q_shard_shuffle,
        "pack_sequences": q_pack_sequences,
        "redact_terms": q_redact_terms,
        "embedding_quantize": q_embedding_quantize,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "cohort_retention": q_cohort_retention,
        "value_histogram": q_value_histogram,
        "funnel_conversion": q_funnel_conversion,
        "text_unigram_logprob": q_text_unigram_logprob,
        "dedup_editdistance": q_dedup_editdistance,
        "categorical_entropy": q_categorical_entropy,
        "key_skew": q_key_skew,
        "profile_table": q_profile_table,
        "mixture_weights": q_mixture_weights,
        "train_val_split": q_train_val_split,
        "cube_agg": q_cube_agg,
        "latest_snapshot": q_latest_snapshot,
        "approx_percentile_check": q_approx_percentile_check,
        "percentile_bands": q_percentile_bands,
        "gap_fill_daily": q_gap_fill_daily,
        "embedding_norm_stats": q_embedding_norm_stats,
        "srp_signature_hist": q_srp_signature_hist,
        "streaming_dedup": q_streaming_dedup,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_stateful_counts": q_streaming_stateful_counts,
        "streaming_cusum": q_streaming_cusum,
        "streaming_psi_buckets": q_streaming_psi_buckets,
        "streaming_zscore": q_streaming_zscore,
        "functional_dependency": q_functional_dependency,
        "except_distinct": q_except_distinct,
        "text_quality": q_text_quality,
        "row_count_capped": q_row_count_capped,
        "filtered_count": q_filtered_count,
        "min_max": q_min_max,
        "mean": q_mean,
        "length_extremes": q_length_extremes,
        "fraction_between": q_fraction_between,
        "date_span": q_date_span,
        "distinct_count": q_distinct_count,
        "distinct_union_count": q_distinct_union_count,
        "duplicates": q_duplicates,
        "array_agg": q_array_agg,
        "intersect": q_intersect,
        "row_match_mismatch": q_row_match_mismatch,
        "anti_join": q_anti_join,
        "interval_gap": q_interval_gap,
        "ks_statistic": q_ks_statistic,
        "text_token_count": q_text_token_count,
        "text_stopword_ratio": q_text_stopword_ratio,
        "doc_fingerprint": q_doc_fingerprint,
        "dedup_exact": q_dedup_exact,
        "embedding_similar_pairs": q_embedding_similar_pairs,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_neardup": q_dedup_embedding_neardup,
        "ann_topk_bruteforce": q_ann_topk_bruteforce,
        "text_language_id": q_text_language_id,
        "text_bpe_token_count": q_text_bpe_token_count,
        "text_rolling_hash": q_text_rolling_hash,
        "ngram_topk": q_ngram_topk,
        "chunk_documents": q_chunk_documents,
        "text_repetition": q_text_repetition,
        "stratum_percentile_trim": q_stratum_percentile_trim,
        "acf_daily": q_acf_daily,
        "k_anonymity": q_k_anonymity,
        "bootstrap_ci_mean": q_bootstrap_ci_mean,
        "streaming_left_join": q_streaming_left_join,
        "theils_u": q_theils_u,
        "cramers_v": q_cramers_v,
        "graph_assortativity": q_graph_assortativity,
        "mahalanobis_outliers": q_mahalanobis_outliers,
        "isotonic_calibration": q_isotonic_calibration,
        "grouped_bootstrap_ci": q_grouped_bootstrap_ci,
        "winnowing_pairs": q_winnowing_pairs,
        "streaming_bootstrap": q_streaming_bootstrap,
        "partial_correlation": q_partial_correlation,
        "gumbel_return_level": q_gumbel_return_level,
        # round-7 additions
        "grouped_return_level": q_grouped_return_level,
        "grouped_acf": q_grouped_acf,
        "ngram_novelty": q_ngram_novelty,
        "mann_kendall_trend": q_mann_kendall,
        "streaming_gumbel": q_streaming_gumbel,
        "source_overlap": q_source_overlap,
        "grouped_mann_kendall": q_grouped_mann_kendall,
        "seasonal_mann_kendall": q_seasonal_mann_kendall,
        "streaming_grouped_gumbel": q_streaming_grouped_gumbel,
        "per_source_novelty": q_per_source_novelty,
        # round-8 additions
        "cross_cdf_dates": q_cross_cdf_dates,
        "anderson_darling": q_anderson_darling,
        "cramer_von_mises": q_cramer_von_mises,
        "zipf_slope": q_zipf_slope,
        "contrastive_negatives": q_contrastive_negatives,
        "multimodal_decode_real": q_multimodal_decode_real,
        "streaming_late_data": q_streaming_late_data,
        # round-8 post-window additions (r9 window candidates)
        "streaming_ab_ztest": q_streaming_ab_ztest,
        "cuped_ab": q_cuped_ab,
        "logrank": q_logrank,
        "stratified_ab": q_stratified_ab,
        "grouped_psi": q_grouped_psi,
        "jarque_bera": q_jarque_bera,
        "two_proportion_ztest": q_two_proportion_ztest,
        "kendall_tau": q_kendall_tau,
        # round-9 additions
        "ratio_ab_ztest": q_ratio_ab_ztest,
        "sample_ratio_mismatch": q_sample_ratio_mismatch,
        "pettitt_changepoint": q_pettitt_changepoint,
        "dispersion_index": q_dispersion_index,
        "minhash_query_neardup": q_minhash_query_neardup,
        "streaming_srm": q_streaming_srm,
        # round-9 post-window additions (queued for the r10 window)
        "did_ab": q_did_ab,
        "embedding_centroid_shift": q_embedding_centroid_shift,
        "join_explosion_audit": q_join_explosion_audit,
        "welch_ttest": q_welch_ttest,
        "brown_forsythe": q_brown_forsythe,
        "cmh_test": q_cmh_test,
        "grouped_ztest_bh": q_grouped_ztest_bh,
        "nelson_aalen": q_nelson_aalen,
        "durbin_watson": q_durbin_watson,
        "kruskal_wallis": q_kruskal_wallis,
        "streaming_cmh": q_streaming_cmh,
        "chao1_richness": q_chao1_richness,
        "rmst": q_rmst,
        "sequence_monotonicity": q_sequence_monotonicity,
        "forecast_backtest": q_forecast_backtest,
        "grouped_welch_bh": q_grouped_welch_bh,
        "q9_product_profit": q9_product_profit,
        # round-10 additions (queued for the r11 window)
        "minhash_query_recall": q_minhash_query_recall,
        "pq_trained_codebook": q_pq_trained_codebook,
        "capture_recapture": q_capture_recapture,
        # round-11 additions (queued for the r12 window)
        "cox_score": q_cox_score,
        "streaming_obf_monitor": q_streaming_obf_monitor,
        "qte_deciles": q_qte_deciles,
        # round-12 additions (queued for the r13 window)
        "decontaminate_winnow": q_decontaminate_winnow,
        "grouped_qte": q_grouped_qte,
    }
    missing = [k for k in _R12_WINDOW if k not in base]
    assert not missing, f"window names missing from queries(): {missing}"
    ordered = {k: base[k] for k in _R12_WINDOW}
    ordered.update((k, v) for k, v in base.items() if k not in ordered)
    return ordered



# --------------------------------------------------------------------------
# Oracle SQL builders (DuckDB) for the pipeline suite. All hashes are the
# same md5-derived 60-bit integers Spark computes, so values match
# bit-for-bit; cosine uses the same left-to-right double fold as Spark's
# zip_with/aggregate so rankings are engine-independent.
# --------------------------------------------------------------------------

def _bootstrap_ci_sql(n_reps: int = 64) -> str:
    """DuckDB mirror of q_bootstrap_ci_mean.

    Same md5-derived Poisson(1) weights (threshold constants imported
    from the operator — single source of truth), same DECIMAL(38,0)
    numerators, same once-per-replicate double division and rank rule;
    the oracle materializes replicates row-wise (a 64x cross join is
    fine at oracle scale) where Spark holds them column-wise.
    """
    import math

    from datajudge_spark.operators.resample import (
        POISSON1_THRESHOLDS_PPM,
        POISSON_MAX_W,
    )

    ladder = " ".join(
        f"WHEN u < {t} THEN {k}"
        for k, t in enumerate(POISSON1_THRESHOLDS_PPM)
    )
    lo_idx = math.ceil(2.5 / 100.0 * n_reps)
    med_idx = math.ceil(0.5 * n_reps)
    hi_idx = math.ceil(97.5 / 100.0 * n_reps)
    return (
        "WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders WHERE o_orderkey IS NOT NULL "
        "AND o_totalprice IS NOT NULL), "
        f"reps AS (SELECT unnest(generate_series(0, {n_reps - 1})) AS r), "
        # Kirsch-Mitzenmacher double hashing, identical to the Spark
        # side: u_r = (h1 + (r+1)*(2*h2+1)) mod 2^40 mod 1e6
        "hashed AS (SELECT cents, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootA'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) AS h1, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootB'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) * 2 + 1 AS h2 "
        "FROM base), "
        "u AS (SELECT r, cents, "
        "(h1 + (r + 1) * h2) % 1099511627776 % 1000000 AS u "
        "FROM hashed CROSS JOIN reps), "
        f"w AS (SELECT r, cents, CASE {ladder} "
        f"ELSE {POISSON_MAX_W} END AS w FROM u), "
        "per AS (SELECT r, "
        "sum(CAST(CAST(w AS DECIMAL(19,0)) * cents AS DECIMAL(38,0))) "
        "AS sw, CAST(sum(w) AS BIGINT) AS n FROM w GROUP BY r), "
        "m AS (SELECT r, CASE WHEN n > 0 THEN "
        "round(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS m "
        "FROM per), "
        "ranked AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rn "
        "FROM m), "
        "pt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CASE WHEN count(*) > 0 THEN round(CAST(sum(CAST(cents AS "
        "DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) END "
        "AS point_mean FROM base) "
        f"SELECT n_rows, CAST({n_reps} AS INTEGER) AS n_reps, point_mean, "
        f"max(CASE WHEN rn = {lo_idx} THEN m END) AS boot_lo, "
        f"max(CASE WHEN rn = {med_idx} THEN m END) AS boot_median, "
        f"max(CASE WHEN rn = {hi_idx} THEN m END) AS boot_hi "
        "FROM ranked, pt GROUP BY n_rows, point_mean"
    )


def _events_bootstrap_sql(n_reps: int = 32) -> str:
    """DuckDB mirror of q_streaming_bootstrap's drained digest — the
    batch bootstrap of the event values (associative sums make the
    streaming accumulation exactly equal to this)."""
    import math

    from datajudge_spark.operators.resample import (
        POISSON1_THRESHOLDS_PPM,
        POISSON_MAX_W,
    )

    ladder = " ".join(
        f"WHEN u < {t} THEN {k}"
        for k, t in enumerate(POISSON1_THRESHOLDS_PPM)
    )
    lo_idx = math.ceil(2.5 / 100.0 * n_reps)
    med_idx = math.ceil(0.5 * n_reps)
    hi_idx = math.ceil(97.5 / 100.0 * n_reps)
    return (
        "WITH base AS (SELECT CAST(event_id AS VARCHAR) AS k, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM events WHERE value IS NOT NULL "
        "AND event_id IS NOT NULL), "
        f"reps AS (SELECT unnest(generate_series(0, {n_reps - 1})) AS r), "
        "hashed AS (SELECT cents, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootA'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) AS h1, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootB'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) * 2 + 1 AS h2 "
        "FROM base), "
        "u AS (SELECT r, cents, "
        "(h1 + (r + 1) * h2) % 1099511627776 % 1000000 AS u "
        "FROM hashed CROSS JOIN reps), "
        f"w AS (SELECT r, cents, CASE {ladder} "
        f"ELSE {POISSON_MAX_W} END AS w FROM u), "
        "per AS (SELECT r, "
        "sum(CAST(CAST(w AS DECIMAL(19,0)) * cents AS DECIMAL(38,0))) "
        "AS sw, CAST(sum(w) AS BIGINT) AS n, "
        "count(*) AS cnt, sum(CAST(cents AS DECIMAL(38,0))) AS s "
        "FROM w GROUP BY r), "
        "m AS (SELECT cnt, s, r, CASE WHEN n > 0 THEN "
        "round(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS m "
        "FROM per), "
        "ranked AS (SELECT cnt, s, m, "
        "row_number() OVER (ORDER BY m, r) AS rn FROM m) "
        "SELECT CAST(cnt AS BIGINT) AS n_rows, "
        f"CAST({n_reps} AS INTEGER) AS n_reps, "
        "round(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 6) "
        "AS point_mean, "
        f"max(CASE WHEN rn = {lo_idx} THEN m END) AS boot_lo, "
        f"max(CASE WHEN rn = {med_idx} THEN m END) AS boot_median, "
        f"max(CASE WHEN rn = {hi_idx} THEN m END) AS boot_hi "
        "FROM ranked GROUP BY cnt, s"
    )


def _gumbel_sql(return_periods=(12, 60)) -> str:
    """DuckDB mirror of q_gumbel_return_level — same decimal sufficient
    statistics and the IDENTICAL double literals (repr of the Python
    constants the Spark expression embeds)."""
    import math

    from datajudge_spark.operators.timeseries import EULER_GAMMA

    sqrt6 = repr(math.sqrt(6.0))
    pi = repr(math.pi)
    # UNROUNDED on purpose: the raw doubles are bit-identical across
    # engines (exact inputs, fixed expression tree); a 6dp rounding
    # step created a genuine cross-engine HALF-tie here
    rl_cols = ", ".join(
        "CASE WHEN ok THEN mu - beta * "
        f"({repr(math.log(-math.log(1.0 - 1.0 / t)))}) END AS rl_{t}"
        for t in return_periods
    )
    return (
        "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "blocks AS (SELECT date_trunc('month', day) AS b, "
        "max(cents) AS m FROM daily GROUP BY 1), "
        "suff AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n, "
        "sum(CAST(m AS DECIMAL(38,0))) AS s, "
        "sum(CAST(CAST(m AS DECIMAL(19,0)) * m AS DECIMAL(38,0))) AS ss, "
        "CAST(max(m) AS BIGINT) AS max_observed FROM blocks), "
        "fit AS (SELECT CAST(n AS BIGINT) AS n_blocks, max_observed, "
        "n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 AS ok, "
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, "
        "sqrt(CAST(n * ss - s * s AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd "
        "FROM suff), "
        "g AS (SELECT n_blocks, max_observed, ok, mean, "
        f"sd * {sqrt6} / {pi} AS beta FROM fit), "
        "g2 AS (SELECT n_blocks, max_observed, ok, "
        f"mean - {repr(EULER_GAMMA)} * beta AS mu, beta FROM g) "
        "SELECT n_blocks, max_observed, "
        "CASE WHEN ok THEN mu END AS mu, "
        "CASE WHEN ok THEN beta END AS beta, "
        f"{rl_cols} FROM g2"
    )


def _events_gumbel_sql(return_periods=(12, 60)) -> str:
    """DuckDB mirror of q_streaming_gumbel's drained digest — the batch
    Gumbel fit over monthly maxima of raw event values (MAX is
    associative, so the streaming state equals this exactly)."""
    import math

    from datajudge_spark.operators.timeseries import EULER_GAMMA

    sqrt6 = repr(math.sqrt(6.0))
    pi = repr(math.pi)
    rl_cols = ", ".join(
        "CASE WHEN ok THEN mu - beta * "
        f"({repr(math.log(-math.log(1.0 - 1.0 / t)))}) END AS rl_{t}"
        for t in return_periods
    )
    return (
        "WITH base AS (SELECT ts, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), "
        "blocks AS (SELECT date_trunc('month', ts) AS b, "
        "max(cents) AS m FROM base GROUP BY 1), "
        "suff AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n, "
        "sum(CAST(m AS DECIMAL(38,0))) AS s, "
        "sum(CAST(CAST(m AS DECIMAL(19,0)) * m AS DECIMAL(38,0))) AS ss, "
        "CAST(max(m) AS BIGINT) AS max_observed FROM blocks), "
        "fit AS (SELECT CAST(n AS BIGINT) AS n_blocks, max_observed, "
        "n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 AS ok, "
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, "
        "sqrt(CAST(n * ss - s * s AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd "
        "FROM suff), "
        "g AS (SELECT n_blocks, max_observed, ok, mean, "
        f"sd * {sqrt6} / {pi} AS beta FROM fit), "
        "g2 AS (SELECT n_blocks, max_observed, ok, "
        f"mean - {repr(EULER_GAMMA)} * beta AS mu, beta FROM g) "
        "SELECT n_blocks, max_observed, "
        "CASE WHEN ok THEN mu END AS mu, "
        "CASE WHEN ok THEN beta END AS beta, "
        f"{rl_cols} FROM g2"
    )


def _grouped_events_gumbel_sql(return_periods=(30,)) -> str:
    """DuckDB mirror of q_streaming_grouped_gumbel's drained digest —
    the batch per-event-type Gumbel fit over DAILY maxima of raw event
    values (per-group MAX state is associative)."""
    import math

    from datajudge_spark.operators.timeseries import EULER_GAMMA

    sqrt6 = repr(math.sqrt(6.0))
    pi = repr(math.pi)
    rl_cols = ", ".join(
        "CASE WHEN ok THEN mu - beta * "
        f"({repr(math.log(-math.log(1.0 - 1.0 / t)))}) END AS rl_{t}"
        for t in return_periods
    )
    return (
        "WITH base AS (SELECT event_type, ts, "
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND event_type IS NOT NULL), "
        "blocks AS (SELECT event_type, date_trunc('day', ts) AS b, "
        "max(cents) AS m FROM base GROUP BY 1, 2), "
        "suff AS (SELECT event_type, "
        "CAST(count(*) AS DECIMAL(38,0)) AS n, "
        "sum(CAST(m AS DECIMAL(38,0))) AS s, "
        "sum(CAST(CAST(m AS DECIMAL(19,0)) * m AS DECIMAL(38,0))) AS ss, "
        "CAST(max(m) AS BIGINT) AS max_observed FROM blocks GROUP BY 1), "
        "fit AS (SELECT event_type, CAST(n AS BIGINT) AS n_blocks, "
        "max_observed, "
        "n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 AS ok, "
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, "
        "sqrt(CAST(n * ss - s * s AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd "
        "FROM suff), "
        "g AS (SELECT event_type, n_blocks, max_observed, ok, mean, "
        f"sd * {sqrt6} / {pi} AS beta FROM fit), "
        "g2 AS (SELECT event_type, n_blocks, max_observed, ok, "
        f"mean - {repr(EULER_GAMMA)} * beta AS mu, beta FROM g) "
        "SELECT event_type, n_blocks, max_observed, "
        "CASE WHEN ok THEN mu END AS mu, "
        "CASE WHEN ok THEN beta END AS beta, "
        f"{rl_cols} FROM g2 ORDER BY event_type"
    )


def _grouped_gumbel_sql(return_periods=(12, 60)) -> str:
    """DuckDB mirror of q_grouped_return_level — ``_gumbel_sql`` with
    every aggregate keyed by o_orderpriority."""
    import math

    from datajudge_spark.operators.timeseries import EULER_GAMMA

    sqrt6 = repr(math.sqrt(6.0))
    pi = repr(math.pi)
    rl_cols = ", ".join(
        "CASE WHEN ok THEN mu - beta * "
        f"({repr(math.log(-math.log(1.0 - 1.0 / t)))}) END AS rl_{t}"
        for t in return_periods
    )
    return (
        "WITH daily AS (SELECT o_orderpriority AS grp, "
        "CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
        "AS cents FROM orders GROUP BY 1, 2), "
        "blocks AS (SELECT grp, date_trunc('month', day) AS b, "
        "max(cents) AS m FROM daily GROUP BY 1, 2), "
        "suff AS (SELECT grp, CAST(count(*) AS DECIMAL(38,0)) AS n, "
        "sum(CAST(m AS DECIMAL(38,0))) AS s, "
        "sum(CAST(CAST(m AS DECIMAL(19,0)) * m AS DECIMAL(38,0))) AS ss, "
        "CAST(max(m) AS BIGINT) AS max_observed FROM blocks GROUP BY 1), "
        "fit AS (SELECT grp, CAST(n AS BIGINT) AS n_blocks, max_observed, "
        "n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 AS ok, "
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean, "
        "sqrt(CAST(n * ss - s * s AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd "
        "FROM suff), "
        "g AS (SELECT grp, n_blocks, max_observed, ok, mean, "
        f"sd * {sqrt6} / {pi} AS beta FROM fit), "
        "g2 AS (SELECT grp, n_blocks, max_observed, ok, "
        f"mean - {repr(EULER_GAMMA)} * beta AS mu, beta FROM g) "
        "SELECT grp, n_blocks, max_observed, "
        "CASE WHEN ok THEN mu END AS mu, "
        "CASE WHEN ok THEN beta END AS beta, "
        f"{rl_cols} FROM g2"
    )


def _grouped_bootstrap_ci_sql(n_reps: int = 64) -> str:
    """DuckDB mirror of q_grouped_bootstrap_ci — the per-group variant
    of ``_bootstrap_ci_sql`` (same KM weights, same rank rule, rank
    window partitioned by group)."""
    import math

    from datajudge_spark.operators.resample import (
        POISSON1_THRESHOLDS_PPM,
        POISSON_MAX_W,
    )

    ladder = " ".join(
        f"WHEN u < {t} THEN {k}"
        for k, t in enumerate(POISSON1_THRESHOLDS_PPM)
    )
    lo_idx = math.ceil(2.5 / 100.0 * n_reps)
    med_idx = math.ceil(0.5 * n_reps)
    hi_idx = math.ceil(97.5 / 100.0 * n_reps)
    return (
        "WITH base AS (SELECT o_orderpriority AS grp, "
        "CAST(o_orderkey AS VARCHAR) AS k, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents FROM orders WHERE o_orderpriority IS NOT NULL "
        "AND o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL), "
        f"reps AS (SELECT unnest(generate_series(0, {n_reps - 1})) AS r), "
        "hashed AS (SELECT grp, cents, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootA'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) AS h1, "
        "CAST(CAST(('0x' || substr(md5(k || '#bootB'), 1, 15)) "
        "AS UBIGINT) % 1099511627776 AS BIGINT) * 2 + 1 AS h2 "
        "FROM base), "
        "u AS (SELECT grp, r, cents, "
        "(h1 + (r + 1) * h2) % 1099511627776 % 1000000 AS u "
        "FROM hashed CROSS JOIN reps), "
        f"w AS (SELECT grp, r, cents, CASE {ladder} "
        f"ELSE {POISSON_MAX_W} END AS w FROM u), "
        "per AS (SELECT grp, r, "
        "sum(CAST(CAST(w AS DECIMAL(19,0)) * cents AS DECIMAL(38,0))) "
        "AS sw, CAST(sum(w) AS BIGINT) AS n, "
        "count(*) AS cnt, sum(CAST(cents AS DECIMAL(38,0))) AS s "
        "FROM w GROUP BY grp, r), "
        "m AS (SELECT grp, cnt, s, r, CASE WHEN n > 0 THEN "
        "round(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS m "
        "FROM per), "
        "ranked AS (SELECT grp, cnt, s, m, "
        "row_number() OVER (PARTITION BY grp ORDER BY m, r) AS rn "
        "FROM m) "
        "SELECT grp AS priority, CAST(cnt AS BIGINT) AS n_rows, "
        f"CAST({n_reps} AS INTEGER) AS n_reps, "
        "round(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 6) "
        "AS point_mean, "
        f"max(CASE WHEN rn = {lo_idx} THEN m END) AS boot_lo, "
        f"max(CASE WHEN rn = {med_idx} THEN m END) AS boot_median, "
        f"max(CASE WHEN rn = {hi_idx} THEN m END) AS boot_hi "
        "FROM ranked GROUP BY grp, cnt, s"
    )


def _trade_edges_sql() -> str:
    """The nation->nation trade graph (customer nation -> supplier
    nation, lineitem-count weights) — mirror of ``_trade_edges``."""
    return (
        "SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w "
        "FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation cn ON c.c_nationkey = cn.n_nationkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation sn ON s.s_nationkey = sn.n_nationkey "
        "GROUP BY cn.n_name, sn.n_name"
    )


def _pagerank_sql(n_iter: int = 10, d: float = 0.85) -> str:
    """Fixed-iteration PageRank as a chain of plain CTEs (one per power
    iteration) — recursive CTEs cannot aggregate in the recursive term.
    Every arithmetic step mirrors operators.graph.pagerank: double
    casts everywhere, the same parenthesization, dangling mass
    redistributed uniformly."""
    # MATERIALIZED: DuckDB inlines plain CTEs per reference — the
    # 6-table edge join would otherwise be re-planned once per
    # iteration CTE and exhaust file handles on the parquet views
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst, CAST(w AS DOUBLE) AS w "
        f"FROM ({_trade_edges_sql()}))",
        "ow AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM e GROUP BY src)",
        "tr AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.out_w AS p "
        "FROM e JOIN ow ON e.src = ow.src)",
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, "
        "CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    # every per-iteration CTE must be MATERIALIZED too: plain CTEs are
    # inlined at each reference site, so the r0..rN chain re-expands the
    # whole prefix per iteration — observed 262 s at sf0.01 vs ~1 s
    # materialized (linear plan).
    for k in range(1, n_iter + 1):
        p = f"r{k - 1}"
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT "
            "COALESCE(sum(rank), CAST(0.0 AS DOUBLE)) "
            f"AS dm FROM {p} WHERE node NOT IN (SELECT src FROM ow))"
        )
        parts.append(
            f"i{k} AS MATERIALIZED (SELECT tr.dst AS node, "
            f"sum({p}.rank * tr.p) "
            f"AS in_rank FROM {p} JOIN tr ON {p}.node = tr.src "
            "GROUP BY tr.dst)"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT nodes.node, "
            f"(CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) "
            f"/ (SELECT n FROM nn) + CAST({d} AS DOUBLE) * "
            f"(COALESCE(i{k}.in_rank, CAST(0.0 AS DOUBLE)) + "
            f"(SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank "
            f"FROM nodes LEFT JOIN i{k} ON nodes.node = i{k}.node)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT node, round(rank, 6) AS rank FROM r{n_iter}"
    )


def _zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """The SAME bit-interleave the Spark operator performs
    (operators.olap.zorder_key), as a DuckDB bitwise expression."""
    mask = (1 << bits) - 1
    terms = []
    for d, c in enumerate((x, y)):
        for i in range(bits):
            terms.append(f"(((({c} & {mask}) >> {i}) & 1) << {i * 2 + d})")
    return "(" + " | ".join(terms) + ")"


def _h_sql(expr: str, salt: int | str | None = None, nhex: int = 15) -> str:
    if salt is not None:
        expr = f"({expr} || '#{salt}')"
    return (
        f"CAST(CAST(('0x' || substr(md5({expr}),1,{nhex})) AS UBIGINT) AS BIGINT)"
    )


def _countmin_sql(depth: int = 4, width: int = 256, k: int = 5) -> str:
    """DuckDB twin of operators.olap.countmin_check on the supplier
    projection: same Kirsch-Mitzenmacher double-hash family over two
    md5 bases, same counters, same min-over-rows estimate — whole-row
    deterministic."""
    from datajudge_spark.pipeline.dedup import MINHASH_HEX, MINHASH_MASK

    def km(i: int) -> str:
        b1 = _h_sql("item", "a", MINHASH_HEX)
        b2 = _h_sql("item", "b", MINHASH_HEX)
        return f"((({b1}) + {i} * ({b2})) & {MINHASH_MASK}) % {width}"

    cell_union = " UNION ALL ".join(
        f"SELECT {i} AS r, {km(i)} AS b FROM base" for i in range(depth)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT item, exact_cnt, rk, {i} AS r, {km(i)} AS b FROM topk"
        for i in range(depth)
    )
    return (
        "WITH base AS (SELECT CAST(CAST(l_suppkey AS BIGINT) AS VARCHAR) "
        "AS item FROM lineitem WHERE l_suppkey IS NOT NULL), "
        f"cells AS (SELECT r, b, count(*) AS cnt FROM ({cell_union}) "
        "GROUP BY r, b), "
        "hist AS (SELECT item, count(*) AS exact_cnt FROM base "
        "GROUP BY 1), "
        "topk AS (SELECT item, exact_cnt, row_number() OVER "
        "(ORDER BY exact_cnt DESC, item ASC) AS rk FROM hist "
        f"ORDER BY exact_cnt DESC, item ASC LIMIT {k}), "
        f"probes AS ({probe_union}), "
        "est AS (SELECT item, exact_cnt, rk, min(cnt) AS cm_est "
        "FROM probes JOIN cells ON probes.r = cells.r "
        "AND probes.b = cells.b GROUP BY 1, 2, 3) "
        "SELECT CAST(rk AS INT) AS rank, item, "
        "CAST(exact_cnt AS BIGINT) AS exact_cnt, "
        "CAST(cm_est AS BIGINT) AS cm_est, "
        "CAST(cm_est - exact_cnt AS BIGINT) AS overestimate FROM est"
    )


def _profile_drift_sql(
    cols=("l_quantity", "l_extendedprice", "l_discount"),
    mean_rel_tol: float = 0.05,
    null_abs_tol: float = 0.01,
    distinct_rel_tol: float = 0.2,
) -> str:
    """DuckDB twin of operators.profile.profile_drift on the early/late
    lineitem shipping halves — same rounded means, same tolerance
    logic on the same already-rounded inputs."""
    def side(alias: str, pred: str) -> str:
        sels = ["count(*) AS n"]
        for c in cols:
            sels += [
                f"count({c}) AS nn_{c}",
                f"CAST(sum(CAST({c} AS DECIMAL(28,8))) AS DOUBLE) "
                f"AS sm_{c}",
                f"count(DISTINCT {c}) AS nd_{c}",
            ]
        return (
            f"{alias} AS (SELECT {', '.join(sels)} FROM lineitem "
            f"WHERE {pred})"
        )

    rows = []
    for c in cols:
        ma = f"round(pa.sm_{c} / pa.nn_{c}, 6)"
        mb = f"round(pb.sm_{c} / pb.nn_{c}, 6)"
        rel = f"CASE WHEN {ma} <> 0 THEN abs({mb} - {ma}) / abs({ma}) END"
        nfa = f"CAST(pa.n - pa.nn_{c} AS DOUBLE) / pa.n"
        nfb = f"CAST(pb.n - pb.nn_{c} AS DOUBLE) / pb.n"
        mean_ok = (
            f"COALESCE({rel} <= {mean_rel_tol}, {mb} = {ma}, "
            f"({ma} IS NULL AND {mb} IS NULL))"
        )
        null_ok = (
            f"COALESCE(abs({nfb} - {nfa}) <= {null_abs_tol}, "
            f"(pa.n = 0 AND pb.n = 0))"
        )
        dist_ok = (
            f"abs(pb.nd_{c} - pa.nd_{c}) <= "
            f"{distinct_rel_tol} * pa.nd_{c}"
        )
        rows.append(
            f"SELECT '{c}' AS col_name, {ma} AS mean_a, {mb} AS mean_b, "
            f"round({rel}, 6) AS mean_rel_delta, "
            f"round({nfa}, 6) AS null_frac_a, "
            f"round({nfb}, 6) AS null_frac_b, "
            f"CAST(pa.nd_{c} AS BIGINT) AS distinct_a, "
            f"CAST(pb.nd_{c} AS BIGINT) AS distinct_b, "
            f"NOT ({mean_ok} AND {null_ok} AND {dist_ok}) AS drifted "
            f"FROM pa, pb"
        )
    return (
        "WITH "
        + side("pa", "CAST(l_shipdate AS DATE) < DATE '1997-01-01'")
        + ", "
        + side("pb", "CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
        + " "
        + " UNION ALL ".join(rows)
    )


def _bloom_sql(n_bits: int = 4096, depth: int = 3) -> str:
    """DuckDB twin of operators.olap.bloom_filter_check on the
    first-year-orders/customers pair: same md5 hash family, same 32-bit
    bitmap words, same probe — false positives match exactly."""
    def cell(i: int, src: str, extra: str = "") -> str:
        h = _h_sql("k", i)
        return (
            f"SELECT {extra}(({h}) % {n_bits}) >> 5 AS word, "
            f"(({h}) % {n_bits}) & 31 AS bit FROM {src}"
        )

    cell_union = " UNION ALL ".join(cell(i, "bkeys") for i in range(depth))
    pcell_union = " UNION ALL ".join(
        cell(i, "truth", "k, present, ") for i in range(depth)
    )
    return (
        "WITH bkeys AS (SELECT DISTINCT "
        "CAST(CAST(o_custkey AS BIGINT) AS VARCHAR) AS k FROM orders "
        "WHERE o_orderdate < TIMESTAMP '1996-01-01'), "
        f"cells AS ({cell_union}), "
        "words AS (SELECT word, bit_or(CAST(1 AS BIGINT) << bit) AS bits "
        "FROM cells GROUP BY 1), "
        "pk AS (SELECT DISTINCT "
        "CAST(CAST(c_custkey AS BIGINT) AS VARCHAR) AS k FROM customer), "
        "truth AS (SELECT pk.k AS k, (b.k IS NOT NULL) AS present "
        "FROM pk LEFT JOIN bkeys b ON pk.k = b.k), "
        f"pcells AS ({pcell_union}), "
        "hits AS (SELECT k, present, "
        "bool_and(COALESCE(((w.bits >> pcells.bit) & 1) = 1, FALSE)) AS hit "
        "FROM pcells LEFT JOIN words w ON pcells.word = w.word "
        "GROUP BY 1, 2) "
        "SELECT CAST(count(*) AS BIGINT) AS n_probe, "
        "CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_present, "
        "CAST(sum(CASE WHEN present AND hit THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_hits_on_present, "
        "CAST(sum(CASE WHEN NOT present AND hit THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_false_positives, "
        "sum(CASE WHEN present AND hit THEN 1 ELSE 0 END) = "
        "sum(CASE WHEN present THEN 1 ELSE 0 END) AS no_false_negatives "
        "FROM hits"
    )


_SHINGLES_CTE = (
    "toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk "
    "FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, s FROM toks, "
    "UNNEST(list_transform(generate_series(1, greatest(len(tk)-{nm1}, 0)), "
    "i -> array_to_string(tk[i:i+{nm2}], ' '))) AS u(s))"
).format(nm1=_SHINGLE_N - 1, nm2=_SHINGLE_N - 1)


def _ewma_weights_values_sql(
    alpha_num: int = 3, alpha_den: int = 10, lookback: int = 14
) -> str:
    """VALUES list of (k, weight) with the SAME exact decimal literals the
    Spark operator embeds (timeseries.ewma_weights_decimal), so the
    weight*cents products are identical exact decimals on both engines."""
    from datajudge_spark.operators.timeseries import ewma_weights_decimal

    ws = ewma_weights_decimal(alpha_num, alpha_den, lookback)
    scale = max(len(w.split(".")[1]) if "." in w else 0 for w in ws)
    return ", ".join(
        f"({k}, CAST('{w}' AS DECIMAL({scale + 2},{scale})))"
        for k, w in enumerate(ws)
    )


def _srp_sig_sql(n_planes: int = 6, dim: int = 64, seed: str = "srp") -> str:
    """SRP signature expression with the SAME md5-derived +/-1 planes and
    the same left-to-right double fold as pipeline.similarity."""
    from datajudge_spark.pipeline.similarity import srp_planes

    planes = srp_planes(dim, n_planes, seed)
    bits = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(str(s) for s in plane) + "]"
        dot = (
            f"list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, {dim}), "
            f"j -> embedding[j]::DOUBLE * ({lit})[j])), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def _grouped_js_sql(n_buckets: int = 10) -> str:
    """DuckDB twin of operators.stats.grouped_js_divergence on the
    events value distribution per event type: same densified bucket
    spine, same +0.5 Laplace smoothing, same per-group fold."""
    k = float(n_buckets)
    conds = ", ".join(
        f"count(CASE WHEN event_type = '{g}' THEN 1 END) AS c{i}"
        for i, g in enumerate(_EVENT_TYPES)
    )
    coals = ", ".join(
        f"COALESCE(c{i}, 0) AS c{i}" for i in range(len(_EVENT_TYPES))
    )
    tots = ", ".join(
        [f"sum(c{i}) AS t{i}" for i in range(len(_EVENT_TYPES))]
        + ["sum(cnt) AS tq"]
    )
    branches = []
    for i, g in enumerate(_EVENT_TYPES):
        p = f"((c{i} + 0.5) / (t{i} + {0.5 * k}))"
        q = f"((cnt + 0.5) / (tq + {0.5 * k}))"
        m = f"(({p} + {q}) / 2)"
        branches.append(
            f"SELECT '{g}' AS event_type, CAST(t{i} AS BIGINT) AS n, "
            f"CASE WHEN t{i} > 0 THEN round(sum("
            f"0.5 * {p} * ln({p} / {m}) + 0.5 * {q} * ln({q} / {m})"
            f"), 6) END AS jsd FROM dense, t GROUP BY t{i}"
        )
    return (
        f"WITH sp AS (SELECT unnest(range(0, {n_buckets})) AS bucket), "
        "hist AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) "
        f"AS BIGINT), 0), {n_buckets - 1}) AS bucket, count(*) AS cnt, "
        f"{conds} FROM events WHERE value IS NOT NULL "
        "AND event_type IS NOT NULL GROUP BY 1), "
        "dense AS (SELECT sp.bucket AS bucket, COALESCE(cnt, 0) AS cnt, "
        f"{coals} FROM sp LEFT JOIN hist ON sp.bucket = hist.bucket), "
        f"t AS (SELECT {tots} FROM dense) "
        + " UNION ALL ".join(branches)
    )


def _minhash_cand_ctes() -> str:
    """Shared CTE chain (shingles -> signatures -> LSH bands -> star-
    thinned candidate pairs) used by the dedup_minhash_lsh oracle and
    the minhash_jaccard_est oracle."""
    from datajudge_spark.pipeline.dedup import MINHASH_HEX, MINHASH_MASK

    mins = ", ".join(
        f"min((b1 + {k} * b2) & {MINHASH_MASK}) AS h{k}"
        for k in range(_MINHASH_K)
    )
    band_selects = []
    for b in range(_LSH_BANDS):
        parts = " || ',' || ".join(
            f"h{b * _LSH_ROWS + r}::VARCHAR" for r in range(_LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS sig FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    # hot-bucket star thinning, same semantics as lsh_candidate_pairs:
    # buckets over _LSH_MAX_BUCKET emit (min_id, member) instead of all
    # pairs, so both engines bound a degenerate bucket identically
    return (
        f"{_SHINGLES_CTE}, "
        f"hs AS (SELECT doc_id, {_h_sql('s', 'a', MINHASH_HEX)} AS b1, "
        f"{_h_sql('s', 'b', MINHASH_HEX)} AS b2 FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id), "
        f"bands AS ({bands}), "
        "cb AS (SELECT doc_id, band, sig, "
        "count(*) OVER (PARTITION BY band, sig) AS n, "
        "min(doc_id) OVER (PARTITION BY band, sig) AS m FROM bands), "
        "cand AS (SELECT DISTINCT d1, d2 FROM ("
        "SELECT a.doc_id AS d1, b.doc_id AS d2 FROM cb a "
        "JOIN cb b ON a.band = b.band AND a.sig = b.sig "
        f"AND a.doc_id < b.doc_id WHERE a.n <= {_LSH_MAX_BUCKET} "
        "UNION ALL SELECT m AS d1, doc_id AS d2 FROM cb "
        f"WHERE n > {_LSH_MAX_BUCKET} AND doc_id <> m))"
    )


def _minhash_query_sql() -> str:
    """DuckDB mirror of q_minhash_query_neardup: same shingle/signature
    chain as _minhash_cand_ctes, but candidates come from joining ALL
    band rows to the 25-doc query band rows (no self-join, no
    star-thinning - the query side is bounded by construction)."""
    from datajudge_spark.pipeline.dedup import MINHASH_HEX, MINHASH_MASK

    mins = ", ".join(
        f"min((b1 + {k} * b2) & {MINHASH_MASK}) AS h{k}"
        for k in range(_MINHASH_K)
    )
    band_selects = []
    for b in range(_LSH_BANDS):
        parts = " || ',' || ".join(
            f"h{b * _LSH_ROWS + r}::VARCHAR" for r in range(_LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS sig FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    qids = ", ".join(str(i) for i in range(25))
    matches = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END"
        for k in range(_MINHASH_K)
    )
    est = f"round(CAST(({matches}) AS DOUBLE) / {_MINHASH_K}, 6)"
    return (
        f"WITH {_SHINGLES_CTE}, "
        f"hs AS (SELECT doc_id, {_h_sql('s', 'a', MINHASH_HEX)} AS b1, "
        f"{_h_sql('s', 'b', MINHASH_HEX)} AS b2 FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id), "
        f"bands AS ({bands}), "
        f"qb AS (SELECT doc_id AS q, band, sig FROM bands "
        f"WHERE doc_id IN ({qids})), "
        "cand AS (SELECT DISTINCT qb.q AS query_id, "
        "b.doc_id AS candidate_id FROM bands b "
        "JOIN qb ON b.band = qb.band AND b.sig = qb.sig "
        "AND b.doc_id <> qb.q) "
        f"SELECT query_id, candidate_id, {est} AS est "
        "FROM cand JOIN sig sa ON sa.doc_id = query_id "
        "JOIN sig sb ON sb.doc_id = candidate_id "
        f"WHERE {est} >= 0.25"
    )


def _minhash_query_recall_sql() -> str:
    """DuckDB mirror of q_minhash_query_recall: the candidate chain of
    _minhash_query_sql (no est filter) + exact-Jaccard truth over the
    hashed shingle space + per-query recall digest.  t = 0.5 makes the
    threshold comparison exact in binary in both engines."""
    from datajudge_spark.pipeline.dedup import MINHASH_HEX, MINHASH_MASK

    mins = ", ".join(
        f"min((b1 + {k} * b2) & {MINHASH_MASK}) AS h{k}"
        for k in range(_MINHASH_K)
    )
    band_selects = []
    for b in range(_LSH_BANDS):
        parts = " || ',' || ".join(
            f"h{b * _LSH_ROWS + r}::VARCHAR" for r in range(_LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS sig FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    qids = ", ".join(str(i) for i in range(100))
    return (
        f"WITH {_SHINGLES_CTE}, "
        f"shd AS (SELECT doc_id, {_h_sql('s')} AS s FROM sh), "
        f"hs AS (SELECT doc_id, {_h_sql('s', 'a', MINHASH_HEX)} AS b1, "
        f"{_h_sql('s', 'b', MINHASH_HEX)} AS b2 FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id), "
        f"bands AS ({bands}), "
        f"qb AS (SELECT doc_id AS q, band, sig FROM bands "
        f"WHERE doc_id IN ({qids})), "
        "cand AS (SELECT DISTINCT qb.q, b.doc_id AS cid FROM bands b "
        "JOIN qb ON b.band = qb.band AND b.sig = qb.sig "
        "AND b.doc_id <> qb.q), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), "
        f"qsh AS (SELECT doc_id AS q, s FROM shd WHERE doc_id IN ({qids})), "
        "qsz AS (SELECT doc_id AS q, n AS nq FROM sizes "
        f"WHERE doc_id IN ({qids})), "
        "inter AS (SELECT qsh.q, c.doc_id AS cid, count(*) AS i "
        "FROM shd c JOIN qsh ON c.s = qsh.s AND c.doc_id <> qsh.q "
        "GROUP BY 1, 2), "
        "truth AS (SELECT q, cid FROM inter JOIN qsz USING (q) "
        "JOIN sizes ON cid = sizes.doc_id "
        "WHERE CAST(i AS DOUBLE) / (nq + n - i) >= 0.5), "
        "nt AS (SELECT q, count(*) AS t FROM truth GROUP BY q), "
        "nh AS (SELECT truth.q, count(*) AS h FROM truth "
        "JOIN cand ON truth.q = cand.q AND truth.cid = cand.cid "
        "GROUP BY 1), "
        # spine from the literal id list (mirrors the Spark operator:
        # absent query ids still emit n_true = 0 rows)
        f"qs AS (SELECT DISTINCT CAST(unnest([{qids}]) AS BIGINT) AS q) "
        "SELECT qs.q AS query_id, "
        "CAST(coalesce(t, 0) AS BIGINT) AS n_true, "
        "CAST(coalesce(h, 0) AS BIGINT) AS n_hits, "
        "round(CASE WHEN coalesce(t, 0) > 0 THEN "
        "CAST(coalesce(h, 0) AS DOUBLE) / coalesce(t, 0) END, 6) "
        "AS recall "
        "FROM qs LEFT JOIN nt ON qs.q = nt.q LEFT JOIN nh ON qs.q = nh.q"
    )


def _qte_sql(deciles: int = 10) -> str:
    """DuckDB mirror of q_qte_deciles: same integer decision rule
    (deciles * cum >= j * n_variant) as operators.stats
    .quantile_treatment_effect; c and t materialized (each branch
    references them twice and DuckDB inlines plain CTEs per site).
    Degenerate-variant guard mirrored: a variant with zero non-null
    values makes the engine raise, so each branch requires ``n > 0``
    (`cum * D >= j * 0` would otherwise be vacuously true and return
    the global min) and the whole result empties — never a silently
    wrong grid."""
    branches = []
    for j in range(1, deciles):
        qa = (
            f"(SELECT min(v) FROM c, t "
            f"WHERE t.n0 > 0 AND c.cum0 * {deciles} >= {j} * t.n0)"
        )
        qb = (
            f"(SELECT min(v) FROM c, t "
            f"WHERE t.n1 > 0 AND c.cum1 * {deciles} >= {j} * t.n1)"
        )
        branches.append(
            f"SELECT CAST({j} AS INT) AS decile, "
            "round(qa, 6) AS q_a, round(qb, 6) AS q_b, "
            "round(qb - qa, 6) AS qte FROM "
            f"(SELECT CAST({qa} AS DOUBLE) AS qa, "
            f"CAST({qb} AS DOUBLE) AS qb) "
            "WHERE (SELECT n0 > 0 AND n1 > 0 FROM t)"
        )
    return (
        "WITH h AS MATERIALIZED (SELECT value AS v, "
        "count(*) FILTER (WHERE CAST(user_id % 2 AS INT) = 0) AS c0, "
        "count(*) FILTER (WHERE CAST(user_id % 2 AS INT) = 1) AS c1 "
        "FROM events WHERE value IS NOT NULL "
        "AND CAST(user_id % 2 AS INT) IS NOT NULL GROUP BY value), "
        "c AS MATERIALIZED (SELECT v, "
        "sum(c0) OVER (ORDER BY v) AS cum0, "
        "sum(c1) OVER (ORDER BY v) AS cum1 FROM h), "
        "t AS MATERIALIZED (SELECT max(cum0) AS n0, max(cum1) AS n1 "
        "FROM c) "
        + " UNION ALL ".join(branches)
        + " ORDER BY decile"
    )


def _grouped_qte_sql(deciles: int = 10) -> str:
    """DuckDB mirror of q_grouped_qte: the per-(segment, variant) cell
    integer decision rule of operators.stats
    .grouped_quantile_treatment_effect; empty cells surface as NULL
    quantiles via the ``n > 0`` guard + left joins (the engine's
    explicit-sparsity contract), never a vacuous global min."""
    return (
        "WITH h AS MATERIALIZED (SELECT event_type AS g, value AS v, "
        "count(*) FILTER (CAST(user_id % 2 AS INT) = 0) AS c0, "
        "count(*) FILTER (CAST(user_id % 2 AS INT) = 1) AS c1 "
        "FROM events WHERE value IS NOT NULL "
        "AND event_type IS NOT NULL "
        "AND CAST(user_id % 2 AS INT) IS NOT NULL GROUP BY 1, 2), "
        "c AS MATERIALIZED (SELECT g, v, "
        "sum(c0) OVER (PARTITION BY g ORDER BY v) AS cum0, "
        "sum(c1) OVER (PARTITION BY g ORDER BY v) AS cum1 FROM h), "
        "t AS MATERIALIZED (SELECT g, max(cum0) AS n0, "
        "max(cum1) AS n1 FROM c GROUP BY 1), "
        f"j AS (SELECT unnest(generate_series(1, {deciles - 1})) "
        "AS decile), "
        "qa AS (SELECT c.g, j.decile, min(c.v) AS q "
        "FROM c JOIN t ON t.g = c.g CROSS JOIN j "
        f"WHERE t.n0 > 0 AND c.cum0 * {deciles} >= j.decile * t.n0 "
        "GROUP BY 1, 2), "
        "qb AS (SELECT c.g, j.decile, min(c.v) AS q "
        "FROM c JOIN t ON t.g = c.g CROSS JOIN j "
        f"WHERE t.n1 > 0 AND c.cum1 * {deciles} >= j.decile * t.n1 "
        "GROUP BY 1, 2), "
        "grid AS (SELECT t.g, j.decile, t.n0, t.n1 "
        "FROM t CROSS JOIN j) "
        "SELECT grid.g AS event_type, "
        "CAST(grid.decile AS INT) AS decile, "
        "CAST(grid.n0 AS BIGINT) AS n_a, "
        "CAST(grid.n1 AS BIGINT) AS n_b, "
        "round(CAST(qa.q AS DOUBLE), 6) AS q_a, "
        "round(CAST(qb.q AS DOUBLE), 6) AS q_b, "
        "round(CAST(qb.q AS DOUBLE) - CAST(qa.q AS DOUBLE), 6) AS qte "
        "FROM grid "
        "LEFT JOIN qa ON qa.g = grid.g AND qa.decile = grid.decile "
        "LEFT JOIN qb ON qb.g = grid.g AND qb.decile = grid.decile "
        "ORDER BY event_type, decile"
    )


def _obf_monitor_sql() -> str:
    """DuckDB mirror of q_streaming_obf_monitor: the drained per-look
    state equals the batch grouped counts (associative), so the oracle
    is the batch GROUP BY + the identical boundary fold.  The critical
    value is the SAME driver-computed literal (norm_ppf import — single
    source of truth) both engines carry; ``crossed`` compares the
    UNROUNDED z/boundary doubles, which agree bit-for-bit because both
    derive from exact integer counts through the same expression
    grouping."""
    from datajudge_spark.operators.stats import norm_ppf

    c = repr(norm_ppf(1.0 - 0.05 / 2.0))
    z_expr = (
        "CASE WHEN cn_a > 0 AND cn_b > 0 AND "
        "pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb) > 0 THEN "
        "(sa / na - sb / nb) / sqrt(pooled * (1.0 - pooled) "
        "* (1.0 / na + 1.0 / nb)) END"
    )
    return (
        "WITH looks AS (SELECT "
        "CAST(date_part('day', ts) AS INTEGER) AS look, "
        "count(*) FILTER (user_id % 2 = 0) AS n_a, "
        "count(*) FILTER (user_id % 2 = 0 "
        "AND event_type = 'purchase') AS s_a, "
        "count(*) FILTER (user_id % 2 = 1) AS n_b, "
        "count(*) FILTER (user_id % 2 = 1 "
        "AND event_type = 'purchase') AS s_b "
        "FROM events GROUP BY 1), "
        "cum AS (SELECT look, "
        "sum(n_a) OVER w AS cn_a, sum(s_a) OVER w AS cs_a, "
        "sum(n_b) OVER w AS cn_b, sum(s_b) OVER w AS cs_b, "
        "sum(n_a) OVER wall + sum(n_b) OVER wall AS tot FROM looks "
        "WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW), "
        "wall AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING)), "
        "d AS (SELECT *, CAST(cn_a AS DOUBLE) AS na, "
        "CAST(cs_a AS DOUBLE) AS sa, CAST(cn_b AS DOUBLE) AS nb, "
        "CAST(cs_b AS DOUBLE) AS sb, "
        "(CAST(cs_a AS DOUBLE) + CAST(cs_b AS DOUBLE)) "
        "/ (CAST(cn_a AS DOUBLE) + CAST(cn_b AS DOUBLE)) AS pooled, "
        "(CAST(cn_a AS DOUBLE) + CAST(cn_b AS DOUBLE)) "
        "/ CAST(tot AS DOUBLE) AS t FROM cum) "
        "SELECT look, CAST(cn_a AS BIGINT) AS n_a, "
        "CAST(cs_a AS BIGINT) AS s_a, CAST(cn_b AS BIGINT) AS n_b, "
        "CAST(cs_b AS BIGINT) AS s_b, round(t, 6) AS info_frac, "
        f"round({z_expr}, 6) AS z, "
        f"round({c} / sqrt(t), 6) AS boundary, "
        f"coalesce(abs({z_expr}) >= {c} / sqrt(t), FALSE) AS crossed "
        "FROM d ORDER BY look"
    )


def _minhash_lsh_sql() -> str:
    return f"WITH {_minhash_cand_ctes()} SELECT d1, d2 FROM cand"


def _minhash_est_sql() -> str:
    matches = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END"
        for k in range(_MINHASH_K)
    )
    ex = (
        "CAST(COALESCE(i.i, 0) AS DOUBLE) / "
        "(s1.sz + s2.sz - COALESCE(i.i, 0))"
    )
    return (
        f"WITH {_minhash_cand_ctes()}, "
        f"est AS (SELECT d1, d2, CAST(({matches}) AS DOUBLE) / "
        f"{_MINHASH_K} AS est FROM cand "
        "JOIN sig sa ON sa.doc_id = d1 "
        "JOIN sig sb ON sb.doc_id = d2), "
        f"hsd AS (SELECT DISTINCT doc_id, {_h_sql('s')} AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM hsd GROUP BY 1), "
        "inter AS (SELECT c.d1, c.d2, count(*) AS i FROM cand c "
        "JOIN hsd x ON x.doc_id = c.d1 "
        "JOIN hsd y ON y.doc_id = c.d2 AND y.h = x.h GROUP BY 1, 2) "
        "SELECT e.d1, e.d2, round(e.est, 6) AS est, "
        f"round({ex}, 6) AS exact, "
        f"round(abs(e.est - {ex}), 6) AS abs_err "
        "FROM est e LEFT JOIN inter i ON e.d1 = i.d1 AND e.d2 = i.d2 "
        "JOIN sizes s1 ON s1.doc_id = e.d1 "
        "JOIN sizes s2 ON s2.doc_id = e.d2"
    )


def _simhash_sig_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    recomb = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    return (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk "
        "FROM documents), "
        f"tok AS (SELECT doc_id, {_h_sql('t')} AS h FROM toks, UNNEST(tk) AS u(t)), "
        f"sums AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id) "
        f"SELECT doc_id, {recomb} AS simhash FROM sums"
    )


def _simhash_pairs_sql() -> str:
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * width}) & {mask} AS key FROM sig"
        for b in range(_SIMHASH_BANDS)
    )
    # hot-bucket star thinning mirrors simhash_candidate_pairs: the
    # min member's signature comes via first_value over the id order
    return (
        f"WITH sig AS ({_simhash_sig_sql()}), "
        f"bands AS ({band_rows}), "
        "cb AS (SELECT doc_id, simhash, band, key, "
        "count(*) OVER (PARTITION BY band, key) AS n, "
        "min(doc_id) OVER (PARTITION BY band, key) AS m, "
        "first_value(simhash) OVER (PARTITION BY band, key ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        "AS m_simhash FROM bands) "
        "SELECT DISTINCT d1, d2, hamming FROM ("
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM cb a JOIN cb b ON a.band = b.band AND a.key = b.key "
        f"AND a.doc_id < b.doc_id WHERE a.n <= {_LSH_MAX_BUCKET} "
        "UNION ALL SELECT m AS d1, doc_id AS d2, "
        "CAST(bit_count(xor(m_simhash, simhash)) AS BIGINT) AS hamming "
        f"FROM cb WHERE n > {_LSH_MAX_BUCKET} AND doc_id <> m) "
        f"WHERE hamming <= {_SIMHASH_MAXHAM}"
    )


def _clusters_sql() -> str:
    # connected components as a recursive CTE: every node's cluster id is
    # the minimum id among everything reachable in the pair graph
    return (
        f"WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}), "
        "sym AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs), "
        "reach(id, label) AS ("
        "  SELECT d1, d1 FROM sym "
        "  UNION "
        "  SELECT s.d1, r.label FROM sym s JOIN reach r ON s.d2 = r.id) "
        "SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id"
    )


def _jaccard_sql() -> str:
    return (
        f"WITH {_SHINGLES_CTE}, "
        f"shh AS (SELECT doc_id, {_h_sql('s')} AS s FROM sh), "
        f"rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM shh GROUP BY s) "
        f"WHERE df <= {_JACCARD_MAXDF}), "
        "shf AS (SELECT doc_id, s FROM shh JOIN rare USING (s)), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
        "FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT d1, d2, round(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard "
        "FROM inter JOIN sizes s1 ON d1 = s1.doc_id "
        "JOIN sizes s2 ON d2 = s2.doc_id "
        f"WHERE round(i * 1.0 / (s1.n + s2.n - i), 6) >= {_JACCARD_T}"
    )


def _fold_cos_sql(a: str, b: str) -> str:
    """Cosine as the exact left-to-right double fold Spark performs."""
    dot = (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, len({a})), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), "
        "(x, y) -> x + y)"
    )
    def norm(v: str) -> str:
        return (
            f"sqrt(list_reduce(list_prepend(0.0, list_transform({v}, "
            "w -> w::DOUBLE * w::DOUBLE)), (x, y) -> x + y))"
        )
    return f"({dot} / ({norm(a)} * {norm(b)}))"


def _hybrid_rrf_sql() -> str:
    cos = _fold_cos_sql("q.qvec", "c.embedding")
    return (
        # lexical: the bm25_topk pipeline, ranked; dense: cosine vs
        # vec 0, ranked; fuse: 1e0/(60+rank) terms (1e0 keeps DuckDB in
        # DOUBLE — a bare 1.0 is DECIMAL and divides differently)
        "WITH toks AS (SELECT doc_id AS _id, "
        "unnest(string_split_regex(trim(text), '\\s+')) AS term "
        "FROM documents WHERE text IS NOT NULL), "
        "dl AS (SELECT _id, count(*) AS dl FROM toks GROUP BY 1), "
        "tf AS (SELECT _id, term, count(*) AS tf FROM toks "
        "WHERE term IN ('hash', 'vector', 'stream') GROUP BY 1, 2), "
        "dfreq AS (SELECT term, count(*) AS _df FROM tf GROUP BY 1), "
        "scal AS (SELECT count(*) AS _n, avg(dl) AS _avgdl FROM dl), "
        "sc AS (SELECT _id, CAST(round("
        "ln((_n - _df + 0.5) / (_df + 0.5) + 1.0) "
        "* ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 "
        "+ 0.75 * dl / _avgdl))) * 1000000.0, 0) AS BIGINT) AS se6 "
        "FROM tf JOIN dfreq USING (term) JOIN dl USING (_id), scal), "
        "bsc AS (SELECT _id AS id, CAST(sum(se6) AS BIGINT) AS score_e6 "
        "FROM sc GROUP BY 1), "
        "ltop AS (SELECT id, lrank FROM (SELECT id, row_number() OVER "
        "(ORDER BY score_e6 DESC, id ASC) AS lrank FROM bsc) "
        "WHERE lrank <= 50), "
        "qv AS (SELECT embedding AS qvec FROM embeddings "
        "WHERE vec_id = 0), "
        f"dsc AS (SELECT c.vec_id AS id, {cos} AS cos "
        "FROM embeddings c, qv q WHERE c.vec_id <> 0), "
        "dtop AS (SELECT id, drank FROM (SELECT id, row_number() OVER "
        "(ORDER BY cos DESC, id ASC) AS drank FROM dsc) "
        "WHERE drank <= 50), "
        "f AS (SELECT COALESCE(l.id, d.id) AS doc_id, l.lrank, d.drank "
        "FROM ltop l FULL OUTER JOIN dtop d ON l.id = d.id) "
        "SELECT doc_id, "
        "round(COALESCE(1e0 / (60 + lrank), 0e0) "
        "+ COALESCE(1e0 / (60 + drank), 0e0), 6) AS rrf, "
        "lrank AS lex_rank, drank AS dense_rank "
        "FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10"
    )


def _ann_brute_sql() -> str:
    cos = _fold_cos_sql("q.qvec", "c.cvec")
    return (
        "WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings "
        "WHERE vec_id < 10), "
        "c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings), "
        f"scored AS (SELECT qid, cid, {cos} AS cos FROM q, c WHERE qid <> cid), "
        "ranked AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn FROM scored) "
        "SELECT qid, cid, round(cos, 6) AS cos, rn FROM ranked WHERE rn <= 5"
    )


def _ann_ivf_sql() -> str:
    assign_cos = _fold_cos_sql("v.vvec", "ct.centvec")
    cos = _fold_cos_sql("q.qvec", "c.cvec")
    return (
        "WITH cent AS (SELECT vec_id AS cell, embedding AS centvec "
        "FROM embeddings WHERE vec_id < 8), "
        "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings "
        "WHERE vec_id < 10), "
        "c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings), "
        "cand_cell AS (SELECT vid AS cid, cell FROM ("
        "  SELECT v.vid, ct.cell, row_number() OVER (PARTITION BY v.vid "
        f"  ORDER BY {assign_cos} DESC, ct.cell ASC) AS rn "
        "  FROM (SELECT vec_id AS vid, embedding AS vvec FROM embeddings) v, cent ct"
        ") WHERE rn = 1), "
        "q_cell AS (SELECT vid AS qid, cell FROM ("
        "  SELECT v.vid, ct.cell, row_number() OVER (PARTITION BY v.vid "
        f"  ORDER BY {assign_cos} DESC, ct.cell ASC) AS rn "
        "  FROM (SELECT vec_id AS vid, embedding AS vvec FROM embeddings "
        "        WHERE vec_id < 10) v, cent ct"
        ") WHERE rn = 1), "
        f"scored AS (SELECT q.qid, c.cid, {cos} AS cos "
        "FROM q JOIN q_cell USING (qid) "
        "JOIN cand_cell ON q_cell.cell = cand_cell.cell "
        "JOIN c ON cand_cell.cid = c.cid WHERE q.qid <> c.cid), "
        "ranked AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn FROM scored) "
        "SELECT qid, cid, round(cos, 6) AS cos, rn FROM ranked WHERE rn <= 3"
    )


def _ivf_neardup_cells_sql(subset_pred: str) -> str:
    """Shared CTE text: multi-probe (rn <= 2) IVF cell assignment of the
    (optionally subset) embedding frame against the first-8 centroids —
    mirror of similarity.near_dup_pairs_ivf's _query_cells probe."""
    assign_cos = _fold_cos_sql("v.vvec", "ct.centvec")
    return (
        "cent AS (SELECT vec_id AS cell, embedding AS centvec "
        "FROM embeddings WHERE vec_id < 8), "
        "vecs AS (SELECT vec_id AS vid, embedding AS vvec "
        f"FROM embeddings{subset_pred}), "
        "cells AS (SELECT vid, cell FROM ("
        "  SELECT v.vid, ct.cell, row_number() OVER (PARTITION BY v.vid "
        f"  ORDER BY {assign_cos} DESC, ct.cell ASC) AS rn "
        "  FROM vecs v, cent ct"
        ") WHERE rn <= 2), "
        "tag AS (SELECT c.cell, v.vid, v.vvec FROM cells c "
        "JOIN vecs v ON c.vid = v.vid)"
    )


def _ivf_neardup_sql() -> str:
    cos = _fold_cos_sql("a.vvec", "b.vvec")
    return (
        f"WITH {_ivf_neardup_cells_sql('')} "
        f"SELECT DISTINCT a.vid AS d1, b.vid AS d2, round({cos}, 6) AS cos "
        "FROM tag a JOIN tag b ON a.cell = b.cell AND a.vid < b.vid "
        f"WHERE {cos} > 0.3"
    )


def _ivf_neardup_recall_sql() -> str:
    cos = _fold_cos_sql("a.vvec", "b.vvec")
    return (
        f"WITH {_ivf_neardup_cells_sql(' WHERE vec_id < 400')}, "
        f"truth AS (SELECT a.vid AS d1, b.vid AS d2 FROM vecs a "
        f"JOIN vecs b ON a.vid < b.vid WHERE {cos} > 0.3), "
        "found AS (SELECT DISTINCT a.vid AS d1, b.vid AS d2 "
        "FROM tag a JOIN tag b ON a.cell = b.cell AND a.vid < b.vid "
        f"WHERE {cos} > 0.3) "
        "SELECT CAST(count(t.d1) AS BIGINT) AS n_true, "
        "CAST(count(f.d1) AS BIGINT) AS n_found, "
        "CAST(count(CASE WHEN t.d1 IS NOT NULL AND f.d1 IS NOT NULL "
        "THEN 1 END) AS BIGINT) AS n_hit, "
        "round(CASE WHEN count(t.d1) > 0 THEN "
        "CAST(count(CASE WHEN t.d1 IS NOT NULL AND f.d1 IS NOT NULL "
        "THEN 1 END) AS DOUBLE) / count(t.d1) END, 6) AS recall "
        "FROM truth t FULL JOIN found f "
        "ON t.d1 = f.d1 AND t.d2 = f.d2"
    )


def _density_core_sql() -> str:
    """Pair graph = the ivf_neardup construction; degrees from both
    pair endpoints; LEFT join keeps isolated vectors."""
    cos = _fold_cos_sql("a.vvec", "b.vvec")
    return (
        f"WITH {_ivf_neardup_cells_sql('')}, "
        "pairs AS (SELECT DISTINCT a.vid AS d1, b.vid AS d2 "
        "FROM tag a JOIN tag b ON a.cell = b.cell "
        f"AND a.vid < b.vid WHERE {cos} > 0.3), "
        "deg AS (SELECT v, count(*) AS n FROM ("
        "SELECT d1 AS v FROM pairs "
        "UNION ALL SELECT d2 AS v FROM pairs) GROUP BY 1) "
        "SELECT vecs.vid AS vid, "
        "CAST(COALESCE(deg.n, 0) AS BIGINT) AS n_neighbors, "
        "COALESCE(deg.n, 0) >= 2 AS is_core "
        "FROM vecs LEFT JOIN deg ON vecs.vid = deg.v "
        "ORDER BY vid"
    )


def _neardup_sql() -> str:
    cos = _fold_cos_sql("a.embedding", "b.embedding")
    return (
        f"SELECT a.vec_id AS d1, b.vec_id AS d2, round({cos}, 6) AS cos "
        "FROM embeddings a JOIN embeddings b "
        "ON a.label = b.label AND a.vec_id < b.vec_id "
        f"WHERE {cos} > 0.95"
    )


def _lang_id_sql() -> str:
    from datajudge_spark.pipeline.text import LANG_MARKERS

    score_defs = []
    for lang, markers in LANG_MARKERS.items():
        arr = ", ".join(f"'{m}'" for m in markers)
        score_defs.append(
            f"len(list_filter(tk, t -> list_contains([{arr}], t))) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    cases = " ".join(
        f"WHEN s_{la} = best AND best > 0 THEN '{la}'" for la in langs
    )
    return (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk "
        "FROM documents), "
        f"scores AS (SELECT doc_id, {', '.join(score_defs)} FROM toks), "
        f"withbest AS (SELECT *, {best} AS best FROM scores) "
        f"SELECT doc_id, CASE {cases} ELSE 'und' END AS pred_lang FROM withbest"
    )


def _grouped_ks_sql() -> str:
    """Per-group KS vs pooled — the same integer cumulants and double
    divisions as operators.stats.grouped_ks, windows ordered by value."""
    n = len(_EVENT_TYPES)
    cnts = ", ".join(
        f"count(*) FILTER (WHERE event_type = '{g}') AS c{i}"
        for i, g in enumerate(_EVENT_TYPES)
    )
    cums = ", ".join(
        f"sum(c{i}) OVER (ORDER BY v) AS cum{i}" for i in range(n)
    )
    tots = ", ".join(f"max(cum{i}) AS n{i}" for i in range(n))
    branches = " UNION ALL ".join(
        f"SELECT '{g}' AS event_type, CAST(t.n{i} AS BIGINT) AS n, "
        f"round(max(abs(CAST(c.cum{i} AS DOUBLE) / CAST(t.n{i} AS DOUBLE) "
        "- CAST(c.cum AS DOUBLE) / CAST(t.nt AS DOUBLE))), 6) AS d "
        f"FROM c, t GROUP BY t.n{i}, t.nt"
        for i, g in enumerate(_EVENT_TYPES)
    )
    return (
        f"WITH h AS (SELECT value AS v, count(*) AS cnt, {cnts} "
        "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL "
        "GROUP BY value), "
        f"c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, {cums} FROM h), "
        f"t AS (SELECT max(cum) AS nt, {tots} FROM c) "
        + branches
    )


def _theil_sen_sql() -> str:
    """Median pairwise slope of daily revenue — slopes are the same
    correctly-rounded doubles of exact integer differences, the median
    the same smallest-v-with->=50% rule as exact_percentile_df."""
    return (
        "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "p AS (SELECT CAST(b.cents - a.cents AS DOUBLE) "
        "/ CAST(b.day - a.day AS DOUBLE) AS slope "
        "FROM daily a JOIN daily b ON a.day < b.day), "
        "m AS (SELECT min(value) AS med FROM ("
        "  SELECT slope AS value, cume_dist() OVER (ORDER BY slope) AS cd "
        "  FROM p) WHERE cd >= 0.5) "
        "SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days, "
        "CAST((SELECT count(*) FROM p) AS BIGINT) AS n_pairs, "
        "round(med, 6) AS slope FROM m"
    )


def _pq_sql(dim: int = 64) -> str:
    """PQ encode + ADC top-k, reconstructed relationally: the codebook
    is the first _PQ_CODES embeddings (code = vec_id, matching the
    Spark codebook's ascending-id order), sub-distance folds are the
    same left-to-right (x-y)*(x-y) accumulations, and the per-candidate
    ADC sum is an ORDERED list fold so both engines add the m doubles
    in subspace order."""
    ds = dim // _PQ_M

    def l2(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(s.sub * {ds} + 1, s.sub * {ds} + {ds}), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
            f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
        )

    return (
        f"WITH cb AS (SELECT vec_id AS code, embedding AS cv "
        f"FROM embeddings WHERE vec_id < {_PQ_CODES}), "
        f"subs AS (SELECT unnest(range({_PQ_M})) AS sub), "
        "cand AS (SELECT vec_id AS cid, embedding AS xv FROM embeddings), "
        "q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings "
        "WHERE vec_id < 10), "
        "encd AS (SELECT cid, sub, code FROM ("
        "SELECT c.cid, s.sub, cb.code, row_number() OVER "
        f"(PARTITION BY c.cid, s.sub ORDER BY {l2('c.xv', 'cb.cv')} ASC, "
        "cb.code ASC) AS rn "
        "FROM cand c CROSS JOIN subs s CROSS JOIN cb) WHERE rn = 1), "
        f"lut AS (SELECT q.qid, s.sub, cb.code, {l2('q.qv', 'cb.cv')} AS d2 "
        "FROM q CROSS JOIN subs s CROSS JOIN cb), "
        "scored AS (SELECT l.qid, e.cid, "
        "list_reduce(list_prepend(0.0, list(l.d2 ORDER BY l.sub)), "
        "(x, y) -> x + y) AS dist "
        "FROM encd e JOIN lut l ON e.sub = l.sub AND e.code = l.code "
        "WHERE l.qid <> e.cid GROUP BY l.qid, e.cid), "
        "ranked AS (SELECT qid, cid, dist, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM scored) "
        f"SELECT qid, cid, round(dist, 6) AS dist, rn "
        f"FROM ranked WHERE rn <= {_PQ_K}"
    )


def _cell_assign_sql(name: str, source_filter: str) -> str:
    """CTE assigning each vector from ``embeddings`` (optionally
    filtered) to its nearest of the 8 centroid vectors by cosine —
    mirror of similarity.ivf_cells (ties to the lowest cell id)."""
    assign_cos = _fold_cos_sql("v.vvec", "ct.centvec")
    return (
        f"{name} AS (SELECT vid, cell FROM ("
        "  SELECT v.vid, ct.cell, row_number() OVER (PARTITION BY v.vid "
        f"  ORDER BY {assign_cos} DESC, ct.cell ASC) AS rn "
        "  FROM (SELECT vec_id AS vid, embedding AS vvec FROM embeddings"
        f"        {source_filter}) v, cent ct"
        ") WHERE rn = 1)"
    )


def _pq_trained_sql(dim: int = 64) -> str:
    """DuckDB mirror of q_pq_trained_codebook: two relational Lloyd
    iterations — assignment = per-(vector, subspace) argmin over the
    current codebook slices (ordered component folds, lowest code on
    ties, matching pq_encode's array_position), update =
    per-(subspace, code, component) AVG with COALESCE carry-over for
    empty codes (pq_train keeps the previous entry) — then the final
    encode against the trained slices, counted per (sub, code), plus
    the trained sub-centroid L2 norms (same square-then-left-fold as
    the Python driver step)."""
    ds = dim // _PQ_M

    def l2_slice(vec: str, sub: str, sv: str) -> str:
        # ordered fold over the ds local components: (x - e)^2 summed
        # left-to-right, x from the full vector at sub*ds + i, e from
        # the per-(sub, code) slice list
        return (
            "list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, {ds}), "
            f"i -> ({vec}[{sub} * {ds} + i]::DOUBLE - {sv}[i]) "
            f"* ({vec}[{sub} * {ds} + i]::DOUBLE - {sv}[i]))), "
            "(x, y) -> x + y)"
        )

    def assign(name: str, slices: str) -> str:
        return (
            f"{name} AS (SELECT vid, sub, code FROM ("
            "SELECT v.vid, cc.sub, cc.code, row_number() OVER "
            "(PARTITION BY v.vid, cc.sub ORDER BY "
            f"{l2_slice('v.xv', 'cc.sub', 'cc.sv')} ASC, cc.code ASC) "
            f"AS rn FROM v CROSS JOIN {slices} cc) WHERE rn = 1)"
        )

    def means(name: str, assign_cte: str) -> str:
        return (
            f"{name} AS (SELECT a.sub, a.code, ii.i, "
            f"avg(v.xv[a.sub * {ds} + ii.i]::DOUBLE) AS mu "
            f"FROM {assign_cte} a JOIN v USING (vid) "
            "CROSS JOIN irange ii GROUP BY 1, 2, 3)"
        )

    def rebuild(comp_name: str, slice_name: str, mean_cte: str,
                prev_comp: str) -> str:
        # full (sub, code, i) grid; empty (sub, code) keep the previous
        # component value
        return (
            f"{comp_name} AS (SELECT g.sub, g.code, g.i, "
            f"COALESCE(m.mu, p.val) AS val FROM grid g "
            f"JOIN {prev_comp} p ON p.sub = g.sub AND p.code = g.code "
            "AND p.i = g.i "
            f"LEFT JOIN {mean_cte} m ON m.sub = g.sub "
            "AND m.code = g.code AND m.i = g.i), "
            f"{slice_name} AS (SELECT sub, code, "
            f"list(val ORDER BY i) AS sv FROM {comp_name} "
            "GROUP BY sub, code)"
        )

    return (
        f"WITH v AS (SELECT vec_id AS vid, embedding AS xv "
        "FROM embeddings), "
        f"cb0 AS (SELECT vec_id AS code, embedding AS cv "
        f"FROM embeddings WHERE vec_id < {_PQ_CODES}), "
        f"subs AS (SELECT unnest(range({_PQ_M})) AS sub), "
        f"irange AS (SELECT unnest(range(1, {ds + 1})) AS i), "
        "grid AS (SELECT s.sub, c.code, ii.i FROM subs s "
        "CROSS JOIN cb0 c CROSS JOIN irange ii), "
        # initial per-(sub, code) component table + slices from cb0
        "c0 AS (SELECT g.sub, g.code, g.i, "
        f"c.cv[g.sub * {ds} + g.i]::DOUBLE AS val FROM grid g "
        "JOIN cb0 c ON c.code = g.code), "
        "s0 AS (SELECT sub, code, list(val ORDER BY i) AS sv FROM c0 "
        "GROUP BY sub, code), "
        + assign("a1", "s0") + ", "
        + means("m1", "a1") + ", "
        + rebuild("c1", "s1", "m1", "c0") + ", "
        + assign("a2", "s1") + ", "
        + means("m2", "a2") + ", "
        + rebuild("c2", "s2", "m2", "c1") + ", "
        + assign("a3", "s2") + ", "
        "counts AS (SELECT sub, code, count(*) AS n FROM a3 "
        "GROUP BY 1, 2), "
        "norms AS (SELECT sub, code, "
        "sqrt(list_reduce(list_prepend(0.0, "
        "list_transform(sv, x -> x * x)), (a, b) -> a + b)) AS cn "
        "FROM s2) "
        "SELECT norms.sub AS sub, norms.code AS code, "
        "CAST(coalesce(counts.n, 0) AS BIGINT) AS n_assigned, "
        "round(norms.cn, 6) AS cnorm "
        "FROM norms LEFT JOIN counts ON norms.sub = counts.sub "
        "AND norms.code = counts.code "
        "ORDER BY sub, code"
    )


def _ivf_pq_sql(dim: int = 64) -> str:
    """IVF-PQ composite: the _pq_sql encode/LUT/ADC pipeline with the
    candidate set pruned to the query's nearest coarse cell
    (_ann_ivf_sql's assignment CTEs) — mirror of similarity.topk_ivf_pq."""
    ds = dim // _PQ_M

    def l2(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(s.sub * {ds} + 1, s.sub * {ds} + {ds}), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
            f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
        )

    return (
        f"WITH cb AS (SELECT vec_id AS code, embedding AS cv "
        f"FROM embeddings WHERE vec_id < {_PQ_CODES}), "
        "cent AS (SELECT vec_id AS cell, embedding AS centvec "
        "FROM embeddings WHERE vec_id < 8), "
        f"subs AS (SELECT unnest(range({_PQ_M})) AS sub), "
        "cand AS (SELECT vec_id AS cid, embedding AS xv FROM embeddings), "
        "q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings "
        "WHERE vec_id < 10), "
        + _cell_assign_sql("cand_cell", "")
        + ", "
        + _cell_assign_sql("q_cell", " WHERE vec_id < 10")
        + ", "
        "encd AS (SELECT cid, sub, code FROM ("
        "SELECT c.cid, s.sub, cb.code, row_number() OVER "
        f"(PARTITION BY c.cid, s.sub ORDER BY {l2('c.xv', 'cb.cv')} ASC, "
        "cb.code ASC) AS rn "
        "FROM cand c CROSS JOIN subs s CROSS JOIN cb) WHERE rn = 1), "
        f"lut AS (SELECT q.qid, s.sub, cb.code, {l2('q.qv', 'cb.cv')} AS d2 "
        "FROM q CROSS JOIN subs s CROSS JOIN cb), "
        "scored AS (SELECT l.qid, e.cid, "
        "list_reduce(list_prepend(0.0, list(l.d2 ORDER BY l.sub)), "
        "(x, y) -> x + y) AS dist "
        "FROM encd e JOIN lut l ON e.sub = l.sub AND e.code = l.code "
        "JOIN q_cell ON q_cell.vid = l.qid "
        "JOIN cand_cell ON cand_cell.vid = e.cid "
        "AND cand_cell.cell = q_cell.cell "
        "WHERE l.qid <> e.cid GROUP BY l.qid, e.cid), "
        "ranked AS (SELECT qid, cid, dist, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn FROM scored) "
        f"SELECT qid, cid, round(dist, 6) AS dist, rn "
        f"FROM ranked WHERE rn <= {_PQ_K}"
    )


def _ann_recall_sql(k: int = 3) -> str:
    """Per-query recall@k of the IVF search vs brute-force ground truth
    — mirror of similarity.recall_at_k over topk_ivf/topk_bruteforce."""
    cos = _fold_cos_sql("q.qvec", "c.cvec")
    return (
        "WITH cent AS (SELECT vec_id AS cell, embedding AS centvec "
        "FROM embeddings WHERE vec_id < 8), "
        "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings "
        "WHERE vec_id < 10), "
        "c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings), "
        f"bscored AS (SELECT qid, cid, {cos} AS cos FROM q, c "
        "WHERE qid <> cid), "
        "bt AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn FROM bscored) "
        f"WHERE rn <= {k}), "
        + _cell_assign_sql("cand_cell", "")
        + ", "
        + _cell_assign_sql("q_cell", " WHERE vec_id < 10")
        + ", "
        f"iscored AS (SELECT q.qid, c.cid, {cos} AS cos "
        "FROM q JOIN q_cell ON q_cell.vid = q.qid "
        "JOIN cand_cell ON q_cell.cell = cand_cell.cell "
        "JOIN c ON cand_cell.vid = c.cid WHERE q.qid <> c.cid), "
        "it AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn FROM iscored) "
        f"WHERE rn <= {k}), "
        "hits AS (SELECT bt.qid, count(*) AS n_hits FROM bt "
        "JOIN it ON bt.qid = it.qid AND bt.cid = it.cid GROUP BY 1), "
        "base AS (SELECT qid, count(*) AS n_exact FROM bt GROUP BY 1) "
        "SELECT base.qid, CAST(n_exact AS BIGINT) AS n_exact, "
        "CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits, "
        "round(CAST(COALESCE(n_hits, 0) AS DOUBLE) "
        "/ CAST(n_exact AS DOUBLE), 6) AS recall "
        "FROM base LEFT JOIN hits ON base.qid = hits.qid"
    )


def _grouped_quantile_grid_sql(deciles: int = 10) -> str:
    """Per-group exact decile grid vs pooled — same integer decision
    rule (deciles * cum >= j * n) as operators.stats
    .grouped_quantile_grid.  c and t MUST be materialized: each of the
    45 branches references them twice and DuckDB inlines plain CTEs per
    reference site."""
    n = len(_EVENT_TYPES)
    cnts = ", ".join(
        f"count(*) FILTER (WHERE event_type = '{g}') AS c{i}"
        for i, g in enumerate(_EVENT_TYPES)
    )
    cums = ", ".join(
        f"sum(c{i}) OVER (ORDER BY v) AS cum{i}" for i in range(n)
    )
    tots = ", ".join(f"max(cum{i}) AS n{i}" for i in range(n))
    branches = []
    for i, g in enumerate(_EVENT_TYPES):
        for j in range(1, deciles):
            vg = (
                f"(SELECT min(v) FROM c, t "
                f"WHERE c.cum{i} * {deciles} >= {j} * t.n{i})"
            )
            vp = (
                f"(SELECT min(v) FROM c, t "
                f"WHERE c.cum * {deciles} >= {j} * t.nt)"
            )
            branches.append(
                f"SELECT '{g}' AS event_type, CAST({j} AS INT) AS decile, "
                "round(vg, 6) AS v_group, round(vp, 6) AS v_pooled, "
                "round(vg - vp, 6) AS gap FROM "
                f"(SELECT CAST({vg} AS DOUBLE) AS vg, "
                f"CAST({vp} AS DOUBLE) AS vp)"
            )
    return (
        f"WITH h AS MATERIALIZED (SELECT value AS v, count(*) AS cnt, {cnts} "
        "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL "
        "GROUP BY value), "
        "c AS MATERIALIZED (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, "
        f"{cums} FROM h), "
        f"t AS MATERIALIZED (SELECT max(cum) AS nt, {tots} FROM c) "
        + " UNION ALL ".join(branches)
    )


def _grouped_theil_sen_sql() -> str:
    """Per-group Theil-Sen over each event type's daily value total —
    same slopes and the same >=50% minimum rule as the grouped operator
    (cume_dist >= 0.5 <=> 2*cum >= n)."""
    return (
        "WITH daily AS MATERIALIZED (SELECT event_type AS g, "
        "CAST(ts AS DATE) AS day, "
        "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents "
        "FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL "
        "GROUP BY 1, 2), "
        "p AS MATERIALIZED (SELECT a.g, CAST(b.cents - a.cents AS DOUBLE) "
        "/ CAST(b.day - a.day AS DOUBLE) AS slope "
        "FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day), "
        "cd AS (SELECT g, slope, cume_dist() OVER "
        "(PARTITION BY g ORDER BY slope) AS cd FROM p), "
        "m AS (SELECT g, min(slope) AS med FROM cd WHERE cd >= 0.5 "
        "GROUP BY g), "
        "nd AS (SELECT g, count(*) AS n_days FROM daily GROUP BY g), "
        "np AS (SELECT g, count(*) AS n_pairs FROM p GROUP BY g) "
        "SELECT nd.g AS event_type, CAST(nd.n_days AS BIGINT) AS n_days, "
        "CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs, "
        "round(m.med, 6) AS slope "
        "FROM nd LEFT JOIN np ON nd.g = np.g LEFT JOIN m ON nd.g = m.g"
    )


def _grouped_welch_bh_sql() -> str:
    """DuckDB twin of q_grouped_welch_bh: identical double-op order for
    the sufficient statistics (var = num/(n(n-1)) then /n), then the
    SAME portable-SQL exact Student-t tail the Spark plan evaluates
    (t_sf_prelude_sql / t_sf_oracle_ctes — Lentz incomplete beta,
    Lanczos lgamma, identical iteration count), then the same BH
    suffix-min.  Built dynamically because the prelude/loop fragments
    are shared verbatim with the engine (single source of truth)."""
    from datajudge_spark.operators.stats import (
        t_sf_oracle_ctes,
        t_sf_prelude_sql,
    )

    head = (
        "WITH RECURSIVE base AS (SELECT event_type AS g, "
        "CAST(round(value * 100) AS BIGINT) AS x, "
        "user_id % 2 = 0 AS pa FROM events "
        "WHERE value IS NOT NULL AND event_type IS NOT NULL), "
        "per AS (SELECT g, "
        "count(*) FILTER (pa) AS n_a, "
        "sum(CASE WHEN pa THEN CAST(x AS HUGEINT) ELSE 0 END) AS s_a, "
        "sum(CASE WHEN pa THEN CAST(x AS HUGEINT) "
        "* CAST(x AS HUGEINT) ELSE 0 END) AS q_a, "
        "count(*) FILTER (NOT pa) AS n_b, "
        "sum(CASE WHEN NOT pa THEN CAST(x AS HUGEINT) ELSE 0 END) "
        "AS s_b, "
        "sum(CASE WHEN NOT pa THEN CAST(x AS HUGEINT) "
        "* CAST(x AS HUGEINT) ELSE 0 END) AS q_b "
        "FROM base GROUP BY g), "
        "d AS (SELECT g, n_a, n_b, "
        "CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd, "
        "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a, "
        "CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b, "
        "CAST(CAST(n_a AS HUGEINT) * q_a - s_a * s_a AS DOUBLE) "
        "/ (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) "
        "/ CAST(n_a AS DOUBLE) AS ta, "
        "CAST(CAST(n_b AS HUGEINT) * q_b - s_b * s_b AS DOUBLE) "
        "/ (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) "
        "/ CAST(n_b AS DOUBLE) AS tb "
        "FROM per WHERE n_a >= 2 AND n_b >= 2), "
        "t2 AS (SELECT g, n_a, n_b, mean_a - mean_b AS diff, "
        "(mean_a - mean_b) / sqrt(ta + tb) AS t, "
        "(ta + tb) * (ta + tb) / (ta * ta / (nad - 1.0) "
        "+ tb * tb / (nbd - 1.0)) AS df "
        "FROM d WHERE ta + tb > 0)"
    )
    prelude_ctes = []
    prev = "t2"
    for i, (name, expr) in enumerate(t_sf_prelude_sql("t", "df").items()):
        cte = f"w{i}"
        prelude_ctes.append(f"{cte} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cte
    loop_frag, final = t_sf_oracle_ctes(prev, p_alias="p")
    tail = (
        f"r AS (SELECT g, n_a, n_b, diff, t, df, p, "
        "count(*) OVER () AS m, "
        f"row_number() OVER (ORDER BY p, g) AS rk FROM {final}), "
        "q AS (SELECT *, least(min(p * CAST(m AS DOUBLE) "
        "/ CAST(rk AS DOUBLE)) OVER (ORDER BY rk DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) "
        "AS qv FROM r) "
        'SELECT g AS "group", n_a, n_b, round(diff, 6) AS diff, '
        "round(t, 6) AS t, round(df, 6) AS df, "
        "round(p, 6) AS p_value, round(qv, 6) AS q_value "
        "FROM q ORDER BY g"
    )
    return head + ", " + ", ".join(prelude_ctes) + ", " + loop_frag + ", " + tail


def oracle_sql() -> dict[str, str]:
    return {
        "row_count": "SELECT count(*) AS n_rows FROM lineitem",
        "row_count_capped": (
            "SELECT count(*) AS n_rows FROM (SELECT * FROM lineitem LIMIT 1000)"
        ),
        "filtered_count": (
            "SELECT count(*) AS n_rows FROM lineitem "
            "WHERE (l_quantity > 25) AND (l_discount <= 0.05)"
        ),
        "min_max": (
            "SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty "
            "FROM lineitem"
        ),
        "mean": (
            "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
            " / count(*), 6) AS mean_price FROM lineitem"
        ),
        "length_extremes": (
            "SELECT min(length(o_orderpriority)) AS min_len, "
            "max(length(o_orderpriority)) AS max_len FROM orders"
        ),
        "fraction_between": (
            "SELECT round(count(CASE WHEN l_quantity >= 10 AND l_quantity <= 40 "
            "THEN 1 END) * 1.0 / count(*), 6) AS fraction FROM lineitem"
        ),
        "null_fraction": (
            "SELECT round(count(CASE WHEN props IS NULL THEN 1 END) * 1.0 "
            "/ count(*), 6) AS null_fraction FROM events"
        ),
        "date_span": (
            "SELECT CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), "
            "CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS span_days FROM orders"
        ),
        "percentile": (
            "SELECT min(value) AS p90 FROM ("
            "  SELECT l_extendedprice AS value, "
            "         cume_dist() OVER (ORDER BY l_extendedprice) AS cd "
            "  FROM lineitem WHERE l_extendedprice IS NOT NULL"
            ") WHERE cd >= 0.9"
        ),
        "uniques_histogram": (
            "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag"
        ),
        "distinct_count": (
            "SELECT count(*) AS n_distinct FROM "
            "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"
        ),
        "distinct_union_count": (
            "SELECT count(*) AS n_distinct FROM ("
            "  SELECT DISTINCT k FROM ("
            "    SELECT c_nationkey AS k FROM customer "
            "    UNION ALL SELECT s_nationkey AS k FROM supplier))"
        ),
        "duplicates": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n_copies "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus HAVING count(*) > 1"
        ),
        "array_agg": (
            "SELECT n_regionkey, array_to_string("
            "list_sort(array_agg(n_nationkey)), ',') AS nations "
            "FROM nation GROUP BY n_regionkey"
        ),
        "functional_dependency": (
            "SELECT o_custkey, count(*) AS n_variants FROM "
            "(SELECT DISTINCT o_custkey, o_orderstatus FROM orders) "
            "GROUP BY o_custkey HAVING count(*) > 1"
        ),
        "except_distinct": (
            "SELECT o_custkey AS custkey FROM orders "
            "EXCEPT "
            "SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0"
        ),
        "intersect": (
            "SELECT c_nationkey AS k FROM customer "
            "INTERSECT "
            "SELECT s_nationkey AS k FROM supplier"
        ),
        "row_match_mismatch": (
            "SELECT round(avg(CASE WHEN l.l_shipdate = r.o_orderdate "
            "OR (l.l_shipdate IS NULL AND r.o_orderdate IS NULL) "
            "THEN 0.0 ELSE 1.0 END), 6) AS mismatch_fraction, "
            "count(*) AS n_rows "
            "FROM lineitem l JOIN orders r ON l.l_orderkey = r.o_orderkey"
        ),
        "anti_join": (
            "SELECT count(*) AS n_customers_without_orders FROM customer c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "broadcast_join_agg": (
            "SELECT n_name, count(*) AS n_rows, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "GROUP BY n_name"
        ),
        "interval_overlap": (
            "WITH iv AS (SELECT o_custkey AS k, o_orderdate AS s, "
            "o_orderdate + INTERVAL 7 DAY AS e FROM orders) "
            "SELECT count(*) AS n_violation_keys FROM ("
            "  SELECT l.k FROM iv l JOIN iv r ON l.k = r.k "
            "    AND l.s <= r.s AND l.e >= r.s "
            "    AND (l.s <> r.s OR l.e <> r.e) "
            "  UNION "
            "  SELECT k FROM iv GROUP BY k, s, e HAVING count(*) > 1)"
        ),
        "interval_gap": (
            "WITH iv AS (SELECT l_suppkey AS k, l_shipdate AS s, "
            "l_shipdate + INTERVAL 5 DAY AS e FROM lineitem), "
            "w AS (SELECT k, s, max(e) OVER (PARTITION BY k ORDER BY s, e "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM iv) "
            "SELECT count(DISTINCT k) AS n_violation_keys FROM w "
            "WHERE prev_end IS NOT NULL "
            "AND date_diff('day', CAST(prev_end AS DATE), CAST(s AS DATE)) > 0"
        ),
        "regex_violations": (
            "SELECT count(*) AS n_violations FROM orders "
            "WHERE NOT regexp_matches(o_orderpriority, '[0-9]-[A-Z]')"
        ),
        "cross_cdf": (
            "WITH h1 AS (SELECT l_quantity AS val, count(*) AS c FROM lineitem "
            "WHERE l_returnflag = 'A' GROUP BY 1), "
            "c1 AS (SELECT val, sum(c) OVER (ORDER BY val) * 1.0 / "
            "sum(c) OVER () AS cdf1 FROM h1), "
            "h2 AS (SELECT l_quantity AS val, count(*) AS c FROM lineitem "
            "WHERE l_returnflag = 'R' GROUP BY 1), "
            "c2 AS (SELECT val, sum(c) OVER (ORDER BY val) * 1.0 / "
            "sum(c) OVER () AS cdf2 FROM h2), "
            "j AS (SELECT coalesce(c1.val, c2.val) AS val, c1.cdf1 AS cdf1, "
            "c2.cdf2 AS cdf2 FROM c1 FULL OUTER JOIN c2 ON c1.val = c2.val) "
            "SELECT val, "
            "round(coalesce(last_value(cdf1 IGNORE NULLS) OVER "
            "(ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6) "
            "AS cdf1, "
            "round(coalesce(last_value(cdf2 IGNORE NULLS) OVER "
            "(ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6) "
            "AS cdf2 "
            "FROM j"
        ),
        "ks_statistic": (
            "WITH h1 AS (SELECT l_quantity AS val, count(*) AS c FROM lineitem "
            "WHERE l_returnflag = 'A' GROUP BY 1), "
            "c1 AS (SELECT val, sum(c) OVER (ORDER BY val) * 1.0 / "
            "sum(c) OVER () AS cdf1 FROM h1), "
            "h2 AS (SELECT l_quantity AS val, count(*) AS c FROM lineitem "
            "WHERE l_returnflag = 'R' GROUP BY 1), "
            "c2 AS (SELECT val, sum(c) OVER (ORDER BY val) * 1.0 / "
            "sum(c) OVER () AS cdf2 FROM h2), "
            "j AS (SELECT coalesce(c1.val, c2.val) AS val, c1.cdf1 AS cdf1, "
            "c2.cdf2 AS cdf2 FROM c1 FULL OUTER JOIN c2 ON c1.val = c2.val), "
            "f AS (SELECT val, "
            "round(coalesce(last_value(cdf1 IGNORE NULLS) OVER "
            "(ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6) "
            "AS cdf1, "
            "round(coalesce(last_value(cdf2 IGNORE NULLS) OVER "
            "(ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6) "
            "AS cdf2 FROM j) "
            "SELECT round(max(abs(cdf1 - cdf2)), 6) AS d_statistic FROM f"
        ),
        "ks_statistic_continuous": (
            "WITH a AS (SELECT l_extendedprice v FROM lineitem "
            "WHERE l_returnflag = 'A'), "
            "b AS (SELECT l_extendedprice v FROM lineitem "
            "WHERE l_returnflag = 'R'), "
            "u AS (SELECT v, count(*) FILTER (WHERE s = 1) n1, "
            "count(*) FILTER (WHERE s = 2) n2 FROM ("
            "SELECT v, 1 s FROM a UNION ALL SELECT v, 2 FROM b) GROUP BY v), "
            "c AS (SELECT sum(n1) OVER (ORDER BY v) * 1.0 "
            "/ (SELECT count(*) FROM a) "
            "- sum(n2) OVER (ORDER BY v) * 1.0 "
            "/ (SELECT count(*) FROM b) AS diff FROM u) "
            "SELECT round(max(abs(diff)), 6) AS d_statistic FROM c"
        ),
        "text_token_count": (
            "SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) "
            "AS n_tokens FROM documents"
        ),
        "text_quality": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
            "round(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 "
            "/ length(text), 6) AS alpha_ratio, "
            "round(length(text) * 1.0 / "
            "len(string_split_regex(trim(text), '\\s+')), 6) AS mean_token_len "
            "FROM documents"
        ),
        "text_stopword_ratio": (
            "SELECT doc_id, "
            "CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) "
            "AS n_the, "
            "round(((length(text) - length(replace(text, 'the', ''))) / 3.0) "
            "/ len(string_split_regex(trim(text), '\\s+')), 6) AS stopword_ratio "
            "FROM documents"
        ),
        "doc_fingerprint": (
            "SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) "
            "AS fingerprint FROM documents"
        ),
        "dedup_exact": (
            "SELECT fingerprint, count(*) AS n_copies FROM ("
            "  SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) "
            "  AS fingerprint FROM documents) "
            "GROUP BY fingerprint HAVING count(*) > 1"
        ),
        "embedding_similar_pairs": (
            "SELECT q.vec_id AS qid, count(*) AS n_similar "
            "FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id "
            "WHERE q.vec_id < 20 "
            "AND list_cosine_similarity(q.embedding, c.embedding) > 0.8 "
            "GROUP BY q.vec_id"
        ),
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        "minhash_jaccard_est": _minhash_est_sql(),
        "grouped_js_divergence": _grouped_js_sql(),
        "dedup_simhash": _simhash_sig_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "dedup_jaccard": _jaccard_sql(),
        "dedup_clusters": _clusters_sql(),
        "dedup_embedding_neardup": _neardup_sql(),
        "ann_topk_bruteforce": _ann_brute_sql(),
        "ann_topk_ivf": _ann_ivf_sql(),
        "text_language_id": _lang_id_sql(),
        "text_bpe_token_count": (
            "SELECT doc_id, CAST(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens "
            "FROM documents"
        ),
        "text_rolling_hash": (
            "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(string_split(text, ''), "
            "c -> CAST(ascii(c) AS BIGINT))), "
            "(a, b) -> (a * 131 + b) % 2147483647) AS rhash FROM documents"
        ),
        "decontaminate_ngram": (
            f"WITH {_SHINGLES_CTE}, "
            f"shh AS (SELECT doc_id, {_h_sql('s')} AS h FROM sh), "
            "tr AS (SELECT DISTINCT h FROM shh WHERE doc_id % 10 <> 0), "
            "ev AS (SELECT doc_id, h FROM shh WHERE doc_id % 10 = 0), "
            "tot AS (SELECT doc_id, count(*) AS total FROM ev GROUP BY doc_id), "
            "shr AS (SELECT ev.doc_id, count(*) AS shared "
            "FROM ev JOIN tr USING (h) GROUP BY ev.doc_id) "
            "SELECT t.doc_id AS eval_id, t.total, "
            "coalesce(s.shared, 0) AS shared, "
            "round(coalesce(s.shared, 0) * 1.0 / t.total, 6) AS contamination "
            "FROM tot t LEFT JOIN shr s ON t.doc_id = s.doc_id"
        ),
        "source_overlap": (
            # same distinct per-source 3-gram hash sets, ubiquitous-hash
            # bound (breadth > 64 excluded) and Jaccard as the Spark
            # operator
            "WITH toks AS (SELECT source, string_split_regex(trim(text), "
            "'\\s+') AS tk FROM documents WHERE text IS NOT NULL "
            "AND source IS NOT NULL), "
            "sh AS (SELECT DISTINCT source, s FROM toks, "
            "UNNEST(list_transform(generate_series(1, "
            "greatest(len(tk)-2, 0)), "
            "i -> array_to_string(tk[i:i+2], ' '))) AS u(s)), "
            f"hh AS (SELECT DISTINCT source, {_h_sql('s')} AS h FROM sh), "
            "br AS (SELECT h, count(*) AS b FROM hh GROUP BY 1), "
            "keep AS (SELECT hh.source, hh.h FROM hh JOIN br USING (h) "
            "WHERE b <= 64), "
            "tot AS (SELECT source, count(*) AS t FROM keep GROUP BY 1), "
            "pairs AS (SELECT a.source AS src_a, b.source AS src_b, "
            "CAST(count(*) AS BIGINT) AS n_shared FROM keep a "
            "JOIN keep b ON a.h = b.h AND a.source < b.source "
            "GROUP BY 1, 2) "
            "SELECT src_a, src_b, n_shared, "
            "round(n_shared * 1.0 / (ta.t + tb.t - n_shared), 6) "
            "AS jaccard, "
            "round(n_shared * 1.0 / ta.t, 6) AS containment_a, "
            "round(n_shared * 1.0 / tb.t, 6) AS containment_b "
            "FROM pairs "
            "JOIN tot ta ON src_a = ta.source "
            "JOIN tot tb ON src_b = tb.source "
            "ORDER BY n_shared DESC, src_a, src_b LIMIT 25"
        ),
        "per_source_novelty": (
            # same per-source distinct hash sets and breadth rule
            "WITH toks AS (SELECT source, string_split_regex(trim(text), "
            "'\\s+') AS tk FROM documents WHERE text IS NOT NULL "
            "AND source IS NOT NULL), "
            "sh AS (SELECT DISTINCT source, s FROM toks, "
            "UNNEST(list_transform(generate_series(1, "
            "greatest(len(tk)-2, 0)), "
            "i -> array_to_string(tk[i:i+2], ' '))) AS u(s)), "
            f"hh AS (SELECT DISTINCT source, {_h_sql('s')} AS h FROM sh), "
            "br AS (SELECT h, count(*) AS b FROM hh GROUP BY 1) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams, "
            "CAST(sum(CASE WHEN b >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_shared_elsewhere, "
            "round((count(*) - sum(CASE WHEN b >= 2 THEN 1 ELSE 0 END)) "
            "* 1.0 / count(*), 6) AS novelty_fraction "
            "FROM hh JOIN br USING (h) GROUP BY source ORDER BY source"
        ),
        "ngram_novelty": (
            f"WITH {_SHINGLES_CTE}, "
            f"shh AS (SELECT doc_id, {_h_sql('s')} AS h FROM sh), "
            "tr AS (SELECT DISTINCT h FROM shh WHERE doc_id % 10 <> 0), "
            "te AS (SELECT DISTINCT h FROM shh WHERE doc_id % 10 = 0), "
            "j AS (SELECT te.h, CASE WHEN tr.h IS NOT NULL THEN 1 END "
            "AS seen FROM te LEFT JOIN tr ON te.h = tr.h) "
            "SELECT CAST(count(*) AS BIGINT) AS n_test_ngrams, "
            "CAST(coalesce(sum(seen), 0) AS BIGINT) AS n_shared, "
            "round(CASE WHEN count(*) > 0 THEN "
            "(count(*) - coalesce(sum(seen), 0)) * 1.0 / count(*) END, 6) "
            "AS novelty_fraction FROM j"
        ),
        "grouped_mann_kendall": (
            # the mann_kendall oracle with every aggregate, pair join
            # and tie count keyed by o_orderpriority
            "WITH daily AS (SELECT o_orderpriority AS grp, "
            "CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1, 2), "
            "sgn AS (SELECT a.grp, CAST(coalesce(sum(CAST(sign("
            "CAST(b.cents - a.cents AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) "
            "AS s FROM daily a JOIN daily b "
            "ON a.grp = b.grp AND a.day < b.day GROUP BY 1), "
            "ties AS (SELECT grp, coalesce(sum(CAST(t AS DECIMAL(38,0)) * "
            "(t - 1) * (2 * t + 5)), CAST(0 AS DECIMAL(38,0))) AS tie_term "
            "FROM (SELECT grp, count(*) AS t FROM daily "
            "GROUP BY grp, cents) GROUP BY 1), "
            "nn AS (SELECT grp, count(*) AS n FROM daily GROUP BY 1), "
            "v AS (SELECT nn.grp, n, coalesce(s, 0) AS s, "
            "CASE WHEN n >= 2 THEN "
            "CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) "
            "- tie_term AS DOUBLE) / 18.0 END AS var_s "
            "FROM nn LEFT JOIN sgn ON nn.grp = sgn.grp "
            "JOIN ties ON nn.grp = ties.grp) "
            "SELECT grp, CAST(n AS BIGINT) AS n_days, s AS s_stat, var_s, "
            "CASE WHEN var_s > 0 THEN "
            "CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s) "
            "WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END END AS z "
            "FROM v ORDER BY grp"
        ),
        "seasonal_mann_kendall": (
            # per-day-of-week strata (labels differ between engines —
            # Spark 1..7 vs DuckDB 0..6 — but only the PARTITION
            # matters; the statistics sum over strata), then the same
            # exact-integer S / variance arithmetic
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1), "
            "st AS (SELECT dayofweek(day) AS h, day, cents FROM daily), "
            "sgn AS (SELECT a.h, CAST(coalesce(sum(CAST(sign("
            "CAST(b.cents - a.cents AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) "
            "AS s FROM st a JOIN st b "
            "ON a.h = b.h AND a.day < b.day GROUP BY 1), "
            "ties AS (SELECT h, coalesce(sum(CAST(t AS DECIMAL(38,0)) * "
            "(t - 1) * (2 * t + 5)), CAST(0 AS DECIMAL(38,0))) AS tie_term "
            "FROM (SELECT h, count(*) AS t FROM st GROUP BY h, cents) "
            "GROUP BY 1), "
            "nn AS (SELECT h, count(*) AS n FROM st GROUP BY 1), "
            "per AS (SELECT nn.h, n, coalesce(s, 0) AS s, "
            "CASE WHEN n >= 2 THEN "
            "CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) "
            "- tie_term AS DOUBLE) / 18.0 ELSE 0.0 END AS var_s "
            "FROM nn LEFT JOIN sgn ON nn.h = sgn.h "
            "JOIN ties ON nn.h = ties.h), "
            "tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_days, "
            "CAST(count(*) AS BIGINT) AS n_seasons, "
            "CAST(sum(s) AS BIGINT) AS s_stat, "
            "sum(var_s) AS var_s FROM per) "
            "SELECT n_days, n_seasons, s_stat, var_s, "
            "CASE WHEN var_s > 0 THEN "
            "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
            "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) "
            "ELSE 0.0 END END AS z FROM tot"
        ),
        "mann_kendall_trend": (
            # same exact-integer S / tie-corrected variance / continuity
            # z as the Spark operator; doubles unrounded on both sides
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1), "
            "sgn AS (SELECT CAST(coalesce(sum(CAST(sign("
            "CAST(b.cents - a.cents AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) "
            "AS s FROM daily a JOIN daily b ON a.day < b.day), "
            "ties AS (SELECT coalesce(sum(CAST(t AS DECIMAL(38,0)) * "
            "(t - 1) * (2 * t + 5)), CAST(0 AS DECIMAL(38,0))) AS tie_term "
            "FROM (SELECT count(*) AS t FROM daily GROUP BY cents)), "
            "nn AS (SELECT count(*) AS n FROM daily), "
            "v AS (SELECT n, s, CASE WHEN n >= 2 THEN "
            "CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) "
            "- tie_term AS DOUBLE) / 18.0 END AS var_s "
            "FROM nn, sgn, ties) "
            "SELECT CAST(n AS BIGINT) AS n_days, s AS s_stat, var_s, "
            "CASE WHEN var_s > 0 THEN "
            "CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s) "
            "WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END END AS z "
            "FROM v"
        ),
        "sample_stratified": (
            "SELECT lang AS stratum, count(*) AS total, "
            f"CAST(sum(CASE WHEN {_h_sql('CAST(doc_id AS VARCHAR)')} % 100 < "
            "(CASE WHEN lang = 'en' THEN 10 ELSE 50 END) "
            "THEN 1 ELSE 0 END) AS BIGINT) AS sampled, "
            f"round(sum(CASE WHEN {_h_sql('CAST(doc_id AS VARCHAR)')} % 100 < "
            "(CASE WHEN lang = 'en' THEN 10 ELSE 50 END) "
            "THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS observed_rate "
            "FROM documents GROUP BY lang"
        ),
        "source_quality_report": (
            "WITH toks AS (SELECT doc_id, source, text, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "per AS (SELECT doc_id, source, length(text) AS n_chars, "
            "len(tk) AS n_tok, len(list_distinct(tk)) AS n_dist, "
            "greatest(len(tk) - 1, 0) AS n_bg FROM toks), "
            "bg AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(tk) - 1, 0)), "
            "i -> array_to_string(tk[i:i+1], ' '))) AS b FROM toks), "
            "cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), "
            "top AS (SELECT doc_id, max(c) AS mx FROM cnt GROUP BY doc_id) "
            "SELECT p.source AS stratum, count(*) AS n_docs, "
            "CAST(sum(p.n_tok) AS BIGINT) AS total_tokens, "
            "round(1.0 - sum(p.n_dist) * 1.0 / sum(p.n_tok), 6) "
            "AS pooled_dup_fraction, "
            "CASE WHEN sum(p.n_bg) > 0 THEN "
            "round(sum(coalesce(t.mx, 0)) * 1.0 / sum(p.n_bg), 6) "
            "ELSE 0 END AS pooled_top_bigram_fraction, "
            "round(sum(p.n_chars) * 1.0 / count(*), 6) AS avg_chars "
            "FROM per p LEFT JOIN top t USING (doc_id) GROUP BY p.source"
        ),
        "tfidf_top_terms": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "tf AS (SELECT doc_id, u AS term, count(*) AS tf "
            "FROM toks, UNNEST(tk) AS t(u) GROUP BY 1, 2), "
            "nn AS (SELECT count(*) AS n FROM documents), "
            "dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term), "
            "scored AS (SELECT doc_id, term, "
            "round(tf * ln(nn.n * 1.0 / dfc), 6) AS score "
            "FROM tf JOIN dfq USING (term), nn), "
            "ranked AS (SELECT doc_id, term, score, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn "
            "FROM scored) "
            "SELECT doc_id, term, score, rn FROM ranked WHERE rn <= 3"
        ),
        "stratum_percentile_trim": (
            "WITH hist AS (SELECT lang, n_chars AS v, count(*) AS c "
            "FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2), "
            "cum AS (SELECT lang, v, "
            "sum(c) OVER (PARTITION BY lang ORDER BY v "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
            "sum(c) OVER (PARTITION BY lang) AS total FROM hist), "
            "thr AS (SELECT lang, min(v) AS threshold FROM cum "
            "WHERE cum >= 0.1 * total GROUP BY lang) "
            "SELECT d.lang AS stratum, t.threshold, count(*) AS total, "
            "CAST(sum(CASE WHEN d.n_chars >= t.threshold THEN 1 ELSE 0 END) "
            "AS BIGINT) AS kept, "
            "CAST(count(*) - sum(CASE WHEN d.n_chars >= t.threshold "
            "THEN 1 ELSE 0 END) AS BIGINT) AS trimmed "
            "FROM documents d JOIN thr t ON d.lang = t.lang GROUP BY 1, 2"
        ),
        "chunk_documents": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "ch AS (SELECT doc_id, tk, unnest(generate_series(0, "
            "CAST(ceil(len(tk) / 16.0) AS BIGINT) - 1)) AS chunk_idx FROM toks) "
            "SELECT doc_id, chunk_idx, "
            "CAST(len(tk[chunk_idx * 16 + 1 : chunk_idx * 16 + 16]) AS BIGINT) "
            "AS n_tokens, "
            "array_to_string(tk[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') "
            "AS chunk_text FROM ch"
        ),
        "text_repetition": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "stats AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
            "round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) "
            "AS dup_token_fraction FROM toks), "
            "bg AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(tk) - 1, 0)), "
            "i -> array_to_string(tk[i:i+1], ' '))) AS b FROM toks), "
            "cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), "
            "top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot "
            "FROM cnt GROUP BY doc_id) "
            "SELECT s.doc_id, s.n_tokens, s.dup_token_fraction, "
            "round(coalesce(mx * 1.0 / tot, 0), 6) AS top_bigram_fraction "
            "FROM stats s LEFT JOIN top USING (doc_id)"
        ),
        "ngram_topk": (
            "WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS tk "
            "FROM documents), "
            "g AS (SELECT unnest(list_transform("
            "generate_series(1, greatest(len(tk) - 1, 0)), "
            "i -> array_to_string(tk[i:i+1], ' '))) AS ngram FROM toks) "
            "SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram "
            "ORDER BY cnt DESC, ngram ASC LIMIT 20"
        ),
        "multimodal_meta": (
            "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
            "CAST(strlen(text) % 640 AS BIGINT) AS width, "
            "CAST(CASE WHEN strlen(text) > 0 "
            "THEN ascii(substr(text, 1, 1)) % 480 ELSE 0 END AS BIGINT) AS height "
            "FROM documents"
        ),
        "multimodal_image_meta": (
            # the oracle predicts what the header parser must read back
            # out of the constructed P6 payloads; ASCII => length in
            # chars == length in bytes
            "WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(doc_id AS BIGINT) % 64 + 1 AS w, "
            "CAST(doc_id AS BIGINT) % 48 + 1 AS h FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 7 = 0 THEN strlen('not an image') "
            "ELSE strlen('P6' || chr(10) || w || ' ' || h || chr(10) "
            "|| '255' || chr(10)) END AS BIGINT) AS n_bytes, "
            "CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE w END "
            "AS BIGINT) AS width, "
            "CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE h END "
            "AS BIGINT) AS height, "
            "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'rgb' END AS mode "
            "FROM m"
        ),
        "asof_join": (
            "WITH o2 AS (SELECT o_custkey AS user_id, o_orderdate, "
            "max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2) "
            "SELECT count(*) AS n_events, "
            "count(o2.o_orderkey) AS n_matched, "
            "CAST(sum(o2.o_orderkey) AS BIGINT) AS matched_orderkey_sum "
            "FROM events e ASOF LEFT JOIN o2 "
            "ON e.user_id = o2.user_id AND e.ts >= o2.o_orderdate"
        ),
        "range_join": (
            "SELECT count(*) AS n_matched, "
            "CAST(sum(c.event_id) AS BIGINT) AS sum_click_id, "
            "CAST(sum(p.event_id) AS BIGINT) AS sum_purchase_id "
            "FROM events c JOIN events p ON c.user_id = p.user_id "
            "AND c.event_type = 'click' AND p.event_type = 'purchase' "
            "AND epoch(c.ts) >= epoch(p.ts) "
            "AND epoch(c.ts) < epoch(p.ts) + 7200"
        ),
        "asof_join_forward": (
            "WITH o2 AS (SELECT o_custkey AS user_id, o_orderdate, "
            "max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2) "
            "SELECT count(*) AS n_events, "
            "count(o2.o_orderkey) AS n_matched, "
            "CAST(sum(o2.o_orderkey) AS BIGINT) AS matched_orderkey_sum "
            "FROM events e ASOF LEFT JOIN o2 "
            "ON e.user_id = o2.user_id AND e.ts <= o2.o_orderdate"
        ),
        "sessionize": (
            "WITH flagged AS (SELECT user_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS b "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "sess AS (SELECT user_id, ts, sum(b) OVER (PARTITION BY user_id "
            "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS session_id FROM flagged), "
            "stats AS (SELECT user_id, session_id, count(*) AS n_events "
            "FROM sess GROUP BY user_id, session_id) "
            "SELECT user_id, count(*) AS n_sessions, "
            "CAST(sum(n_events) AS BIGINT) AS n_events, "
            "max(n_events) AS max_session_events "
            "FROM stats GROUP BY user_id"
        ),
        "topk_revenue": (
            "SELECT l_orderkey, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "AND l_shipdate >= TIMESTAMP '1998-01-01' "
            "GROUP BY l_orderkey "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "rollup_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid, "
            "count(*) AS n_rows, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) "
            "AS sum_qty "
            "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
        ),
        "pivot_agg": (
            "SELECT l_returnflag, "
            "round(CAST(sum(CASE WHEN l_linestatus = 'F' "
            "THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE), 6) "
            "AS rev_f, "
            "round(CAST(sum(CASE WHEN l_linestatus = 'O' "
            "THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE), 6) "
            "AS rev_o "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "row_count_gain": (
            "SELECT round((SELECT count(*) FROM lineitem) * 1.0 "
            "/ (SELECT count(*) FROM orders) - 1.0, 6) AS gain"
        ),
        "date_growth_rate": (
            "SELECT round("
            "(SELECT date_diff('day', CAST(min(l_shipdate) AS DATE), "
            "CAST(max(l_shipdate) AS DATE)) FROM lineitem) * 1.0 / "
            "(SELECT date_diff('day', CAST(min(o_orderdate) AS DATE), "
            "CAST(max(o_orderdate) AS DATE)) FROM orders) - 1.0, 6) AS growth"
        ),
        "uniques_subset_violation": (
            "SELECT round((SELECT count(*) FROM lineitem WHERE NOT EXISTS ("
            "SELECT 1 FROM supplier WHERE s_acctbal > 1000 "
            "AND s_suppkey = l_suppkey)) * 1.0 "
            "/ (SELECT count(*) FROM lineitem), 6) AS violation_fraction"
        ),
        "shard_shuffle": (
            "WITH k AS (SELECT doc_id, "
            + _h_sql("(CAST(doc_id AS VARCHAR) || '#shuffle')")
            + " AS key FROM documents) "
            "SELECT doc_id, CAST(key % 8 AS INT) AS shard, "
            "CAST(row_number() OVER (PARTITION BY key % 8 "
            "ORDER BY key, doc_id) AS BIGINT) AS pos FROM k"
        ),
        "pack_sequences": (
            "WITH d AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 "
            "THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END "
            "AS BIGINT) AS n_tokens, "
            + _h_sql("(CAST(doc_id AS VARCHAR) || '#shuffle')")
            + " AS key FROM documents), "
            "s AS (SELECT doc_id, CAST(key % 8 AS INT) AS shard, "
            "sum(n_tokens) OVER (PARTITION BY key % 8 ORDER BY key, doc_id "
            "ROWS UNBOUNDED PRECEDING) - n_tokens AS start FROM d) "
            "SELECT doc_id, shard, CAST(start // 512 AS BIGINT) AS pack_id, "
            "CAST(start % 512 AS BIGINT) AS pack_offset FROM s"
        ),
        "redact_terms": (
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, '\\b(customer|supplier)\\b')) "
            "AS BIGINT) AS n_redacted, "
            "CAST(length(regexp_replace(text, '\\b(customer|supplier)\\b', "
            "'<TERM>', 'g')) AS BIGINT) AS redacted_len, "
            "md5(regexp_replace(text, '\\b(customer|supplier)\\b', "
            "'<TERM>', 'g')) AS redacted_md5 FROM documents"
        ),
        "embedding_quantize": (
            # identical left-to-right double fold as Spark's aggregate();
            # floor(127*x/norm + 0.5) is exact IEEE in both engines
            "WITH t AS (SELECT vec_id, embedding, "
            "sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a + b)) "
            "AS nrm FROM embeddings) "
            "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, "
            "round(nrm, 6) AS l2_norm, "
            "CAST(CASE WHEN nrm = 0 THEN 0 ELSE "
            "list_sum(list_transform(embedding, (x, i) -> "
            "CAST(floor(127.0 * CAST(x AS DOUBLE) / nrm + 0.5) AS BIGINT) "
            "* i)) END AS BIGINT) AS q_checksum FROM t"
        ),
        # The two multimodal digests recompute the byte arithmetic on the
        # VARCHAR text: the corpus is pure ASCII (verified), so DuckDB's
        # char-based substring/length/md5 equal Spark's byte-based ops on
        # the UTF-8 payload. stride = n // 64; kept = ceil(n / stride)
        # capped at 64 (python payload[::stride][:64] semantics).
        "multimodal_resize": (
            "WITH t AS (SELECT doc_id, text, length(text) AS n "
            "FROM documents) "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, "
            "CASE WHEN n <= 64 THEN CAST(n AS BIGINT) ELSE "
            "least(64, (n + n // 64 - 1) // (n // 64)) END AS resized_len, "
            "CASE WHEN n <= 64 THEN md5(text) ELSE "
            "md5(list_reduce(list_transform("
            "range(0, least(64, (n + n // 64 - 1) // (n // 64))), "
            "i -> substring(text, CAST(1 + i * (n // 64) AS BIGINT), 1)), "
            "(a, b) -> a || b)) END AS resized_md5 FROM t"
        ),
        # kept frame k (16-byte frames, every 4th) starts at byte k*64;
        # kept count = ceil(n/64); the tail frame may be short
        "multimodal_frames": (
            "WITH t AS (SELECT doc_id, text, length(text) AS n "
            "FROM documents), "
            "f AS (SELECT doc_id, text, "
            "unnest(range(0, (n + 63) // 64)) AS k FROM t) "
            "SELECT doc_id, CAST(k AS BIGINT) AS frame_idx, "
            "CAST(length(substring(text, CAST(1 + k * 64 AS BIGINT), 16)) "
            "AS BIGINT) AS frame_len, "
            "md5(substring(text, CAST(1 + k * 64 AS BIGINT), 16)) "
            "AS frame_md5 FROM f"
        ),
        "text_unigram_logprob": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS term "
            "FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf "
            "FROM toks GROUP BY 1, 2), "
            "corpus AS (SELECT term, sum(tf) AS ct FROM tf GROUP BY 1), "
            "tot AS (SELECT sum(ct) AS total, count(*) AS vocab FROM corpus) "
            "SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens, "
            "round(sum(tf.tf * -ln((ct + 1) / (total + vocab))) "
            "/ sum(tf.tf), 6) AS mean_neg_logprob "
            "FROM tf JOIN corpus USING (term) CROSS JOIN tot "
            "GROUP BY tf.doc_id"
        ),
        "dedup_editdistance": (
            "WITH t AS (SELECT doc_id, substr(text, 1, 256) AS cmp, "
            "length(text) AS n, substr(text, 1, 16) AS pfx FROM documents) "
            "SELECT a.doc_id AS d1, b.doc_id AS d2, "
            "CAST(levenshtein(a.cmp, b.cmp) AS INT) AS distance "
            "FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id "
            "AND abs(a.n - b.n) <= 5 "
            "WHERE levenshtein(a.cmp, b.cmp) <= 5"
        ),
        "categorical_entropy": (
            "WITH c AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS c, "
            "count(*) AS ci FROM events WHERE event_type IS NOT NULL "
            "GROUP BY event_type), "
            "f AS (SELECT CAST(sum(ci) AS BIGINT) AS s1, count(*) AS n_distinct, "
            "sum(c * c) AS s2, sum(c * ln(c)) AS s3, "
            "CAST(max(ci) AS BIGINT) AS mx FROM c) "
            "SELECT s1 AS n_rows, n_distinct, "
            "round(ln(CAST(s1 AS DOUBLE)) - s3 / CAST(s1 AS DOUBLE), 6) "
            "AS entropy, "
            "round(s2 / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS hhi, "
            "round(CAST(mx AS DOUBLE) / CAST(s1 AS DOUBLE), 6) AS top_share "
            "FROM f"
        ),
        "key_skew": (
            "WITH c AS (SELECT l_orderkey, CAST(count(*) AS DOUBLE) AS c, "
            "count(*) AS ci FROM lineitem WHERE l_orderkey IS NOT NULL "
            "GROUP BY l_orderkey), "
            "f AS (SELECT CAST(sum(ci) AS BIGINT) AS s1, count(*) AS n_distinct, "
            "sum(c * c) AS s2, sum(c * ln(c)) AS s3, "
            "CAST(max(ci) AS BIGINT) AS mx FROM c) "
            "SELECT s1 AS n_rows, n_distinct, "
            "round(ln(CAST(s1 AS DOUBLE)) - s3 / CAST(s1 AS DOUBLE), 6) "
            "AS entropy, "
            "round(s2 / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS hhi, "
            "round(CAST(mx AS DOUBLE) / CAST(s1 AS DOUBLE), 6) AS top_share "
            "FROM f"
        ),
        "salted_join_agg": (
            "SELECT o_orderpriority, count(*) AS n_items, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
            "AS DOUBLE), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority"
        ),
        "value_histogram": (
            "SELECT least(greatest(CAST(floor((l_extendedprice - 0.0) / "
            "10000.0) AS BIGINT), 0), 11) AS bucket, count(*) AS n_rows "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1"
        ),
        "funnel_conversion": (
            "WITH per_user AS (SELECT user_id, "
            "min(CASE WHEN event_type = 'click' THEN ts END) AS t1, "
            "min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2 "
            "FROM events GROUP BY user_id) "
            "SELECT count(*) AS n_users, count(t1) AS n_clicked, "
            "count(CASE WHEN t2 > t1 THEN 1 END) AS n_converted "
            "FROM per_user"
        ),
        "streaming_windowed_counts": (
            # batch-equivalent of the drained stream: UTC-midnight 1-day
            # tumbling windows == date_trunc('day')
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, "
            "count(*) AS n_rows FROM events GROUP BY 1, 2"
        ),
        "streaming_psi_buckets": (
            # same pure-arithmetic bucket expression as
            # operators.stats.value_bucket (lo=0, hi=500, 10 buckets)
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0) "
            "/ 50.0) AS BIGINT), 0), 9) AS bucket, "
            "count(*) AS n FROM events WHERE value IS NOT NULL "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        ),
        "cohort_retention": (
            "WITH first AS (SELECT user_id, "
            "date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1), "
            "act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period "
            "FROM events) "
            "SELECT cohort, period, count(*) AS n_users "
            "FROM first JOIN act USING (user_id) GROUP BY 1, 2"
        ),
        "moving_avg_daily": (
            "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS cents FROM orders GROUP BY 1) "
            "SELECT day, cents AS total_cents, "
            "CAST(sum(cents) OVER w7 AS BIGINT) AS moving_sum_cents, "
            "count(cents) OVER w7 AS window_n, "
            "cents - lag(cents, 1) OVER (ORDER BY day) AS delta_cents "
            "FROM d WINDOW w7 AS (ORDER BY day "
            "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ),
        "psi_drift": (
            "WITH j AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) "
            "AS BIGINT), 0), 9) AS bucket, "
            "count(*) FILTER (event_type = 'click') AS n1, "
            "count(*) FILTER (event_type = 'view') AS n2 "
            "FROM events WHERE value IS NOT NULL "
            "AND event_type IN ('click', 'view') GROUP BY 1), "
            "t AS (SELECT (n1 + 0.5) / (sum(n1) OVER () + 5.0) AS p, "
            "(n2 + 0.5) / (sum(n2) OVER () + 5.0) AS q FROM j) "
            "SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM t"
        ),
        "profile_table": " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"round(CAST(min({c}) AS DOUBLE), 6) AS min_val, "
            f"round(CAST(max({c}) AS DOUBLE), 6) AS max_val, "
            f"round(CAST(sum(CAST({c} AS DECIMAL(28,8))) AS DOUBLE) "
            f"/ count({c}), 6) AS mean_val FROM lineitem"
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ),
        "corr_matrix": " UNION ALL ".join(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"round(corr({x}, {y}), 6) AS corr FROM lineitem"
            for i, x in enumerate(
                ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
            )
            for y in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")[
                i + 1 :
            ]
        ),
        "grouped_topk": (
            "SELECT source, rk, doc_id, n_chars FROM ("
            "SELECT source, doc_id, n_chars, row_number() OVER ("
            "PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk "
            "FROM documents) WHERE rk <= 3"
        ),
        "mixture_weights": (
            "WITH c AS (SELECT source, count(*) AS n_docs "
            "FROM documents GROUP BY source) "
            "SELECT source, n_docs, "
            "round(pow(CAST(n_docs AS DOUBLE), 0.5) / "
            "sum(pow(CAST(n_docs AS DOUBLE), 0.5)) OVER (), 6) AS weight "
            "FROM c"
        ),
        "train_val_split": (
            f"SELECT CASE WHEN {_h_sql('source', salt='split')} % 100 < 10 "
            "THEN 'val' ELSE 'train' END AS split, "
            "count(*) AS n_rows, count(DISTINCT source) AS n_groups, "
            "CAST(sum(n_chars) AS BIGINT) AS n_chars_sum "
            "FROM documents GROUP BY 1"
        ),
        "cube_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid, "
            "count(*) AS n_rows, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) "
            "AS sum_qty "
            "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"
        ),
        "heavy_hitters": (
            "SELECT o_custkey, n, "
            "round(CAST(n AS DOUBLE) / total, 6) AS share "
            "FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1), "
            "(SELECT count(*) AS total FROM orders) "
            "WHERE n * 1000000 >= total * 1000"
        ),
        "latest_snapshot": (
            "SELECT count(*) AS n_keys, "
            "CAST(sum(o_orderkey) AS BIGINT) AS key_checksum, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS total_cents FROM ("
            "SELECT *, row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders"
            ") WHERE rn = 1"
        ),
        "approx_distinct_check": (
            # the oracle computes the exact side; within_tol TRUE asserts
            # the Spark sketch landed inside 3x its rsd
            "SELECT count(DISTINCT l_orderkey) AS exact_distinct, "
            "TRUE AS within_tol FROM lineitem"
        ),
        "countmin_check": _countmin_sql(),
        "profile_drift": _profile_drift_sql(),
        "bloom_filter_check": _bloom_sql(),
        "approx_topk_check": (
            # exact top-5 suppliers by lineitem count, totally ordered by
            # (cnt DESC, item ASC); the booleans assert the Spark sketch
            # contained every non-boundary item with an in-tolerance
            # count (exact-mode sketch => guaranteed)
            "WITH hist AS (SELECT l_suppkey AS item, count(*) AS cnt "
            "FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1), "
            "topk AS (SELECT item, cnt, "
            "row_number() OVER (ORDER BY cnt DESC, item ASC) AS rk "
            "FROM hist ORDER BY cnt DESC, item ASC LIMIT 5) "
            "SELECT CAST(rk AS INT) AS rank, CAST(item AS BIGINT) AS item, "
            "CAST(cnt AS BIGINT) AS exact_cnt, TRUE AS in_sketch, "
            "TRUE AS count_ok FROM topk"
        ),
        "approx_percentile_check": (
            # exact side mirrors the q_percentile construction: smallest
            # v with >=50% of values <= v, over integer cents
            "SELECT CAST(min(value) AS BIGINT) AS exact_median_cents, "
            "TRUE AS within_tol FROM ("
            "  SELECT c AS value, cume_dist() OVER (ORDER BY c) AS cd "
            "  FROM (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "        * 100 AS BIGINT) AS c FROM lineitem) "
            "  WHERE c IS NOT NULL"
            ") WHERE cd >= 0.5"
        ),
        "percentile_bands": (
            "WITH cd AS (SELECT l_extendedprice AS v, "
            "cume_dist() OVER (ORDER BY l_extendedprice) AS c "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL) "
            "SELECT (SELECT min(v) FROM cd WHERE c >= 0.5) AS p50, "
            "(SELECT min(v) FROM cd WHERE c >= 0.9) AS p90, "
            "(SELECT min(v) FROM cd WHERE c >= 0.99) AS p99"
        ),
        "gap_fill_daily": (
            "WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
            "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents "
            "FROM events WHERE event_type = 'purchase' AND user_id % 50 = 7 "
            "GROUP BY 1), "
            "cal AS (SELECT CAST(unnest(generate_series(min(day), max(day), "
            "INTERVAL 1 DAY)) AS DATE) AS day FROM daily) "
            "SELECT cal.day AS day, daily.cents AS observed, "
            "last_value(daily.cents IGNORE NULLS) OVER (ORDER BY cal.day "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled, "
            "daily.cents IS NULL AS was_gap "
            "FROM cal LEFT JOIN daily ON cal.day = daily.day"
        ),
        "ewma_daily": (
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS cents FROM orders GROUP BY 1), "
            f"weights(k, w) AS (VALUES {_ewma_weights_values_sql()}), "
            "contrib AS (SELECT d.day AS day, wt.w AS w, s.cents AS x "
            "FROM daily d CROSS JOIN weights wt "
            "JOIN daily s ON s.day = d.day - wt.k) "
            # round-then-cast: DuckDB's decimal->decimal cast TRUNCATES
            # where Spark's rounds HALF_UP; round() itself is
            # half-away-from-zero in both — identical for these
            # non-negative sums.  Width 18 keeps the narrowed decimals
            # int64-backed so the double conversion is exact-int division
            # (bit-identical cross-engine), unlike the int128 scale-15
            # originals (1-ulp diffs measured).
            "SELECT day, "
            "round(CAST(CAST(round(sum(w * CAST(x AS DECIMAL(19,2))), 2) "
            "AS DECIMAL(18,2)) AS DOUBLE) "
            "/ CAST(CAST(round(sum(w), 6) AS DECIMAL(8,6)) AS DOUBLE), 2) "
            "AS ewma, "
            "count(*) AS n_terms FROM contrib GROUP BY day"
        ),
        "anomaly_zscore": (
            "WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
            "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents "
            "FROM events GROUP BY 1), "
            "st AS (SELECT day, cents, "
            "sum(CAST(cents AS DECIMAL(18,0))) OVER w AS s, "
            "sum(CAST(cents AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))"
            " OVER w AS ss, "
            "count(cents) OVER w AS n FROM daily "
            "WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND "
            "1 PRECEDING)), "
            "z AS (SELECT day, cents, "
            "CASE WHEN n >= 3 AND (CAST(ss AS DOUBLE) - "
            "CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) > 0 "
            "THEN round((CAST(cents AS DOUBLE) - CAST(s AS DOUBLE)/n) / "
            "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)"
            "/(n - 1)), 6) END AS z FROM st) "
            "SELECT day, cents, z, abs(z) > 2.0 AS is_anomaly FROM z"
        ),
        "embedding_norm_stats": (
            "WITH nr AS (SELECT label, "
            "round(sqrt(list_reduce(list_prepend(0.0, "
            "list_transform(embedding, w -> w::DOUBLE * w::DOUBLE)), "
            "(x, y) -> x + y)), 6) AS nrm FROM embeddings) "
            "SELECT label, count(*) AS n_vecs, "
            "round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) "
            "/ count(*), 6) AS avg_norm, "
            "min(nrm) AS min_norm, max(nrm) AS max_norm, "
            "round(CAST(count(CASE WHEN nrm >= 0.9 AND nrm <= 1.1 THEN 1 END)"
            " AS DOUBLE) / count(*), 6) AS frac_unit "
            "FROM nr GROUP BY label"
        ),
        "srp_signature_hist": (
            f"SELECT {_srp_sig_sql()} AS sig, count(*) AS n_vecs "
            "FROM embeddings GROUP BY 1"
        ),
        "streaming_dedup": (
            "SELECT count(*) AS n_pairs, "
            "CAST(sum(user_id) AS BIGINT) AS user_checksum, "
            "count(DISTINCT event_type) AS n_types FROM "
            "(SELECT DISTINCT user_id, event_type FROM events)"
        ),
        "streaming_sessionize": (
            # identical digest to the batch sessionize oracle: the
            # drained session_window state must equal gaps-and-islands
            "WITH flagged AS (SELECT user_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS b "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "sess AS (SELECT user_id, ts, sum(b) OVER (PARTITION BY user_id "
            "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS session_id FROM flagged), "
            "stats AS (SELECT user_id, session_id, count(*) AS n_events "
            "FROM sess GROUP BY user_id, session_id) "
            "SELECT user_id, count(*) AS n_sessions, "
            "CAST(sum(n_events) AS BIGINT) AS n_events, "
            "max(n_events) AS max_session_events "
            "FROM stats GROUP BY user_id"
        ),
        "streaming_stateful_counts": (
            "WITH per_user AS (SELECT user_id, count(*) AS n_rows, "
            "count(CASE WHEN value < 1.0 OR value IS NULL THEN 1 END) "
            "AS n_nulls FROM events GROUP BY user_id) "
            "SELECT count(*) AS n_users, "
            "CAST(sum(n_rows) AS BIGINT) AS total_rows, "
            "CAST(sum(n_nulls) AS BIGINT) AS total_nulls, "
            "max(n_rows) AS max_user_rows FROM per_user"
        ),
        "streaming_cusum": (
            # batch per-key CUSUM on the drained stream — same integer
            # statistic, same earliest-day tie-break, same final double
            # division as the streaming operator's Python fold
            "WITH base AS (SELECT event_type, CAST(ts AS DATE) AS day, "
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
            "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), "
            "obs AS (SELECT event_type, count(*) AS n_obs FROM base "
            "GROUP BY 1), "
            "daily AS (SELECT event_type, day, "
            "CAST(sum(cents) AS BIGINT) AS c FROM base GROUP BY 1, 2), "
            "t AS (SELECT event_type, count(*) AS n, sum(c) AS s "
            "FROM daily GROUP BY 1), "
            "cum AS (SELECT d.event_type, d.day, t.n, "
            "t.n * sum(d.c) OVER (PARTITION BY d.event_type ORDER BY d.day) "
            "- (row_number() OVER (PARTITION BY d.event_type "
            "ORDER BY d.day)) * t.s AS dd "
            "FROM daily d JOIN t ON d.event_type = t.event_type), "
            "pick AS (SELECT event_type, day, n, dd, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY abs(dd) DESC, day ASC) AS rk FROM cum) "
            "SELECT p.event_type AS event_type, "
            "CAST(o.n_obs AS BIGINT) AS n_obs, "
            "CAST(p.n AS BIGINT) AS n_days, p.day AS change_day, "
            "round(CAST(abs(p.dd) AS DOUBLE) / p.n, 6) AS cusum_max "
            "FROM pick p JOIN obs o ON p.event_type = o.event_type "
            "WHERE p.rk = 1 ORDER BY event_type"
        ),
        "streaming_zscore": (
            # batch rolling-window z on the drained stream — same
            # 7-preceding-PRESENT-day baseline (rows, not calendar),
            # same exact-integer window sums, same one-double z
            # expression rounded at 1e-6 as the streaming Python fold
            "WITH base AS (SELECT event_type, CAST(ts AS DATE) AS day, "
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
            "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), "
            "obs AS (SELECT event_type, count(*) AS n_obs FROM base "
            "GROUP BY 1), "
            "daily AS (SELECT event_type, day, "
            "CAST(sum(cents) AS BIGINT) AS x FROM base GROUP BY 1, 2), "
            "win AS (SELECT event_type, day, x, "
            "sum(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type "
            "ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s, "
            "sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER "
            "(PARTITION BY event_type ORDER BY day "
            "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ss, "
            "count(x) OVER (PARTITION BY event_type ORDER BY day "
            "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n "
            "FROM daily), "
            "z AS (SELECT event_type, day, "
            "CASE WHEN n >= 3 AND (CAST(ss AS DOUBLE) "
            "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) > 0 THEN "
            "round((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n) "
            "/ sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) "
            "* CAST(s AS DOUBLE) / n) / (n - 1)), 6) END AS z "
            "FROM win), "
            "agg AS (SELECT event_type, count(*) AS n_days, "
            "count(CASE WHEN abs(z) > 2.0 THEN 1 END) AS n_anomalies, "
            "max(abs(z)) AS max_abs_z FROM z GROUP BY 1) "
            "SELECT a.event_type AS event_type, "
            "CAST(o.n_obs AS BIGINT) AS n_obs, "
            "CAST(a.n_days AS BIGINT) AS n_days, "
            "CAST(a.n_anomalies AS BIGINT) AS n_anomalies, a.max_abs_z "
            "FROM agg a JOIN obs o ON a.event_type = o.event_type "
            "ORDER BY event_type"
        ),
        "scd2_intervals": (
            "WITH iv AS (SELECT user_id, event_type, ts AS valid_from, "
            "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "AS valid_to FROM events) "
            "SELECT event_type, count(*) AS n_intervals, "
            "count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_open, "
            "CAST(sum(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT) "
            "AS dur_us_sum FROM iv GROUP BY event_type"
        ),
        "snapshot_diff": (
            "WITH old_v AS (SELECT o_orderkey, "
            "CAST(o_totalprice AS DECIMAL(18,2)) AS price_old, "
            "o_orderstatus AS status_old FROM orders WHERE o_orderkey % 7 != 0), "
            "new_v AS (SELECT o_orderkey, "
            "CASE WHEN o_orderkey % 3 = 0 "
            "THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1 "
            "ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price_new, "
            "o_orderstatus AS status_new FROM orders WHERE o_orderkey % 5 != 0) "
            "SELECT "
            "count(CASE WHEN price_old IS NULL THEN 1 END) AS n_added, "
            "count(CASE WHEN price_new IS NULL THEN 1 END) AS n_removed, "
            "count(CASE WHEN price_old IS NOT NULL AND price_new IS NOT NULL "
            "AND (price_new IS DISTINCT FROM price_old "
            "OR status_new IS DISTINCT FROM status_old) THEN 1 END) "
            "AS n_changed, "
            "count(CASE WHEN price_old IS NOT NULL AND price_new IS NOT NULL "
            "AND price_new = price_old AND status_new = status_old THEN 1 END) "
            "AS n_unchanged "
            "FROM old_v FULL OUTER JOIN new_v USING (o_orderkey)"
        ),
        "incremental_daily_merge": (
            # the oracle is the FULL one-shot aggregate: incremental
            # merge must be value-identical to recomputation
            "SELECT CAST(ts AS DATE) AS day, "
            "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS cents, count(*) AS n_rows FROM events GROUP BY 1"
        ),
        "ivf_neardup_pairs": _ivf_neardup_sql(),
        "ivf_neardup_recall": _ivf_neardup_recall_sql(),
        "srp_neardup_pairs": (
            f"WITH s AS (SELECT vec_id, embedding, {_srp_sig_sql()} AS sig "
            "FROM embeddings) "
            "SELECT d1, d2, round(cos, 6) AS cos FROM ("
            "SELECT a.vec_id AS d1, b.vec_id AS d2, "
            f"{_fold_cos_sql('a.embedding', 'b.embedding')} AS cos "
            "FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id"
            ") WHERE cos > 0.3"
        ),
        "shipping_priority_topk": (
            "SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS revenue_e4 "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' "
            "AND l_shipdate >= TIMESTAMP '1995-03-16 00:00:00' "
            "GROUP BY l_orderkey, CAST(o_orderdate AS DATE) "
            "ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10"
        ),
        "revenue_by_nation": (
            "SELECT n_name, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS revenue_e4 "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY n_name"
        ),
        "running_distinct_users": (
            "WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day "
            "FROM events GROUP BY 1), "
            "dn AS (SELECT day, count(*) AS n_new FROM fs GROUP BY 1) "
            "SELECT day, n_new, "
            "CAST(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users FROM dn"
        ),
        "fk_integrity": (
            "SELECT 'orders->customer' AS edge, "
            "count(*) FILTER (WHERE o_custkey IS NOT NULL) AS n_checked, "
            "count(*) FILTER (WHERE o_custkey IS NOT NULL AND pk IS NULL) "
            "AS n_orphans FROM orders LEFT JOIN "
            "(SELECT DISTINCT c_custkey AS pk FROM customer) p "
            "ON o_custkey = pk "
            "UNION ALL "
            "SELECT 'lineitem->orders', "
            "count(*) FILTER (WHERE l_orderkey IS NOT NULL), "
            "count(*) FILTER (WHERE l_orderkey IS NOT NULL AND pk IS NULL) "
            "FROM lineitem LEFT JOIN "
            "(SELECT DISTINCT o_orderkey AS pk FROM orders) p "
            "ON l_orderkey = pk "
            "UNION ALL "
            "SELECT 'lineitem->part', "
            "count(*) FILTER (WHERE l_partkey IS NOT NULL), "
            "count(*) FILTER (WHERE l_partkey IS NOT NULL AND pk IS NULL) "
            "FROM lineitem LEFT JOIN "
            "(SELECT DISTINCT p_partkey AS pk FROM part) p "
            "ON l_partkey = pk"
        ),
        "json_extract_agg": (
            "SELECT event_type, count(*) AS n_events, "
            "CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k, "
            "count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k "
            "FROM events GROUP BY event_type"
        ),
        "benford_digits": (
            "WITH d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) "
            "AS digit FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS c FROM orders) WHERE c > 0) "
            "SELECT digit, count(*) AS n, "
            "round(count(*) / CAST((SELECT count(*) FROM d) AS DOUBLE), 6) "
            "AS frac FROM d GROUP BY digit"
        ),
        "cusum_changepoint": (
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1), "
            "t AS (SELECT count(*) AS n, sum(cents) AS s FROM daily), "
            "cum AS (SELECT day, n, "
            "n * sum(cents) OVER (ORDER BY day) - "
            "(row_number() OVER (ORDER BY day)) * s AS d "
            "FROM daily, t) "
            "SELECT CAST(n AS BIGINT) AS n_days, day AS change_day, "
            "round(CAST(abs(d) AS DOUBLE) / n, 6) AS cusum_max "
            "FROM cum ORDER BY abs(d) DESC, day ASC LIMIT 1"
        ),
        "bootstrap_ci_mean": _bootstrap_ci_sql(64),
        "partial_correlation": (
            # identical sufficient statistics, sqrt-split pairwise r,
            # and scalar partial formula as the Spark operator
            "WITH base AS (SELECT "
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS q, "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS p, "
            "CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS BIGINT) AS d "
            "FROM lineitem WHERE l_quantity IS NOT NULL AND "
            "l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), "
            "suff AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n, "
            "sum(CAST(q AS DECIMAL(38,0))) AS sx, "
            "sum(CAST(p AS DECIMAL(38,0))) AS sy, "
            "sum(CAST(d AS DECIMAL(38,0))) AS sz, "
            "sum(CAST(CAST(q AS DECIMAL(19,0)) * q AS DECIMAL(38,0))) "
            "AS sxx, "
            "sum(CAST(CAST(p AS DECIMAL(19,0)) * p AS DECIMAL(38,0))) "
            "AS syy, "
            "sum(CAST(CAST(d AS DECIMAL(19,0)) * d AS DECIMAL(38,0))) "
            "AS szz, "
            "sum(CAST(CAST(q AS DECIMAL(19,0)) * p AS DECIMAL(38,0))) "
            "AS sxy, "
            "sum(CAST(CAST(q AS DECIMAL(19,0)) * d AS DECIMAL(38,0))) "
            "AS sxz, "
            "sum(CAST(CAST(p AS DECIMAL(19,0)) * d AS DECIMAL(38,0))) "
            "AS syz FROM base), "
            "r AS (SELECT CAST(n AS BIGINT) AS n, "
            "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 AND "
            "CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN "
            "CAST(n * sxy - sx * sy AS DOUBLE) / "
            "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * "
            "sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS rxy, "
            "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 AND "
            "CAST(n * szz - sz * sz AS DOUBLE) > 0 THEN "
            "CAST(n * sxz - sx * sz AS DOUBLE) / "
            "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * "
            "sqrt(CAST(n * szz - sz * sz AS DOUBLE))) END AS rxz, "
            "CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0 AND "
            "CAST(n * szz - sz * sz AS DOUBLE) > 0 THEN "
            "CAST(n * syz - sy * sz AS DOUBLE) / "
            "(sqrt(CAST(n * syy - sy * sy AS DOUBLE)) * "
            "sqrt(CAST(n * szz - sz * sz AS DOUBLE))) END AS ryz "
            "FROM suff) "
            "SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, "
            "round(ryz, 6) AS r_yz, "
            "round(CASE WHEN sqrt((1.0 - rxz * rxz) * "
            "(1.0 - ryz * ryz)) > 0 THEN "
            "(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * "
            "(1.0 - ryz * ryz)) END, 6) AS r_xy_given_z FROM r"
        ),
        "winnowing_pairs": (
            # same k-gram hashing (md5 60-bit), window-min selection and
            # pair ranking as the Spark operator; k=4, w=5
            "WITH t AS (SELECT doc_id, string_split_regex(trim(text), "
            "'\\s+') AS tk FROM documents WHERE text IS NOT NULL), "
            "g AS (SELECT doc_id, list_transform(generate_series(1, "
            "greatest(len(tk) - 3, 0)), i -> array_to_string(tk[i:i+3], "
            "' ')) AS grams FROM t), "
            "h AS (SELECT doc_id, list_transform(grams, s -> "
            "CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) "
            "AS BIGINT)) AS hs FROM g), "
            "wn AS (SELECT doc_id, CASE WHEN len(hs) >= 5 THEN "
            "list_transform(generate_series(1, len(hs) - 4), "
            "i -> list_aggregate(hs[i:i+4], 'min')) "
            "WHEN len(hs) >= 1 THEN [list_aggregate(hs, 'min')] "
            "ELSE [] END AS wins FROM h), "
            "fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f "
            "FROM wn), "
            "pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, "
            "CAST(count(*) AS BIGINT) AS n_shared "
            "FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT d1, d2, n_shared FROM pairs "
            "ORDER BY n_shared DESC, d1, d2 LIMIT 25"
        ),
        "decontaminate_winnow": (
            # same k=4 gram hashing (md5 60-bit) and w=5 window-min
            # selection as the winnowing_pairs oracle; train split's
            # DISTINCT fingerprint set joined against each eval doc's
            # selected fingerprints
            "WITH t AS (SELECT doc_id, string_split_regex(trim(text), "
            "'\\s+') AS tk FROM documents WHERE text IS NOT NULL), "
            "g AS (SELECT doc_id, list_transform(generate_series(1, "
            "greatest(len(tk) - 3, 0)), i -> array_to_string(tk[i:i+3], "
            "' ')) AS grams FROM t), "
            "h AS (SELECT doc_id, list_transform(grams, s -> "
            "CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) "
            "AS BIGINT)) AS hs FROM g), "
            "wn AS (SELECT doc_id, CASE WHEN len(hs) >= 5 THEN "
            "list_transform(generate_series(1, len(hs) - 4), "
            "i -> list_aggregate(hs[i:i+4], 'min')) "
            "WHEN len(hs) >= 1 THEN [list_aggregate(hs, 'min')] "
            "ELSE [] END AS wins FROM h), "
            "fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f "
            "FROM wn), "
            "trn AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 != 0), "
            "ev AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 = 0), "
            "tot AS (SELECT doc_id, count(*) AS n_fp FROM ev "
            "GROUP BY 1), "
            "hit AS (SELECT ev.doc_id, count(*) AS n_hit FROM ev "
            "JOIN trn ON ev.f = trn.f GROUP BY 1) "
            "SELECT tot.doc_id AS eval_id, "
            "CAST(n_fp AS BIGINT) AS n_fp, "
            "CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, "
            "round(CAST(coalesce(n_hit, 0) AS DOUBLE) "
            "/ CAST(n_fp AS DOUBLE), 6) AS contamination "
            "FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id"
        ),
        "grouped_bootstrap_ci": _grouped_bootstrap_ci_sql(64),
        "streaming_bootstrap": _events_bootstrap_sql(32),
        "gumbel_return_level": _gumbel_sql((12, 60)),
        "grouped_return_level": _grouped_gumbel_sql((12, 60)),
        "streaming_gumbel": _events_gumbel_sql((12, 60)),
        "streaming_grouped_gumbel": _grouped_events_gumbel_sql((30,)),
        "grouped_acf": (
            # the acf_daily oracle with every aggregate, pair join and
            # window keyed by o_orderpriority; lags 1..7
            "WITH daily AS (SELECT o_orderpriority AS grp, "
            "CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1, 2), "
            "t AS (SELECT grp, CAST(count(*) AS DOUBLE) AS nd "
            "FROM daily GROUP BY 1), "
            "lags AS (SELECT unnest(generate_series(1, 7)) AS lag), "
            "suff AS (SELECT a.grp, l.lag, count(*) AS n_pairs, "
            "sum(CAST(a.cents AS DECIMAL(38,0))) AS sx, "
            "sum(CAST(b.cents AS DECIMAL(38,0))) AS sy, "
            "sum(CAST(CAST(a.cents AS DECIMAL(19,0)) * b.cents "
            "AS DECIMAL(38,0))) AS sxy, "
            "sum(CAST(CAST(a.cents AS DECIMAL(19,0)) * a.cents "
            "AS DECIMAL(38,0))) AS sxx, "
            "sum(CAST(CAST(b.cents AS DECIMAL(19,0)) * b.cents "
            "AS DECIMAL(38,0))) AS syy "
            "FROM daily a CROSS JOIN lags l "
            "JOIN daily b ON b.grp = a.grp "
            "AND b.day = a.day + CAST(l.lag AS INTEGER) "
            "GROUP BY 1, 2), "
            "scored AS (SELECT grp, lag, n_pairs, "
            "CASE WHEN CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE) > 0 AND "
            "CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - "
            "sy * sy AS DOUBLE) > 0 THEN "
            "round(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxy - "
            "sx * sy AS DOUBLE) / "
            "(sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE)) * "
            "sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - "
            "sy * sy AS DOUBLE))), 6) END AS acf FROM suff) "
            "SELECT s.grp, lag, n_pairs, acf, "
            "round(nd * (nd + 2.0) * "
            "sum(coalesce(acf * acf / n_pairs, 0.0)) "
            "OVER (PARTITION BY s.grp ORDER BY lag ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ljung_box_q "
            "FROM scored s JOIN t ON s.grp = t.grp ORDER BY s.grp, lag"
        ),
        "k_anonymity": (
            "WITH g AS (SELECT c_nationkey, c_mktsegment, "
            "count(*) AS n, count(DISTINCT c_acctbal) AS d "
            "FROM customer GROUP BY 1, 2) "
            "SELECT CAST(sum(n) AS BIGINT) AS n_rows, "
            "CAST(count(*) AS BIGINT) AS n_groups, "
            "CAST(min(n) AS BIGINT) AS min_group_size, "
            "CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_small_groups, "
            "CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) "
            "AS n_at_risk_rows, "
            "round(CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) "
            "AS DOUBLE) / sum(n), 6) AS at_risk_fraction, "
            "CAST(min(d) AS BIGINT) AS min_diversity, "
            "CAST(sum(CASE WHEN d < 5 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_low_diversity_groups FROM g"
        ),
        "acf_daily": (
            # same decimal sufficient statistics, sqrt-split variance
            # product, and ordered fold over the ROUNDED r_k^2 terms as
            # the Spark side — every double expression shape-identical
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1), "
            "t AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM daily), "
            "lags AS (SELECT unnest(generate_series(1, 14)) AS lag), "
            "suff AS (SELECT l.lag, count(*) AS n_pairs, "
            "sum(CAST(a.cents AS DECIMAL(38,0))) AS sx, "
            "sum(CAST(b.cents AS DECIMAL(38,0))) AS sy, "
            "sum(CAST(CAST(a.cents AS DECIMAL(19,0)) * b.cents "
            "AS DECIMAL(38,0))) AS sxy, "
            "sum(CAST(CAST(a.cents AS DECIMAL(19,0)) * a.cents "
            "AS DECIMAL(38,0))) AS sxx, "
            "sum(CAST(CAST(b.cents AS DECIMAL(19,0)) * b.cents "
            "AS DECIMAL(38,0))) AS syy "
            "FROM daily a CROSS JOIN lags l "
            "JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER) "
            "GROUP BY 1), "
            "scored AS (SELECT lag, n_pairs, "
            "CASE WHEN CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE) > 0 AND "
            "CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - "
            "sy * sy AS DOUBLE) > 0 THEN "
            "round(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxy - "
            "sx * sy AS DOUBLE) / "
            "(sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE)) * "
            "sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - "
            "sy * sy AS DOUBLE))), 6) END AS acf FROM suff) "
            "SELECT lag, n_pairs, acf, "
            "round(nd * (nd + 2.0) * "
            "sum(coalesce(acf * acf / n_pairs, 0.0)) "
            "OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW), 6) AS ljung_box_q "
            "FROM scored, t ORDER BY lag"
        ),
        "trend_slope": (
            "WITH base AS (SELECT o_orderpriority AS priority, "
            "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) "
            "AS d, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS c FROM orders), "
            "daily AS (SELECT priority, d - (SELECT min(d) FROM base) AS x, "
            "CAST(sum(c) AS BIGINT) AS y FROM base GROUP BY 1, 2), "
            "s AS (SELECT priority, CAST(count(*) AS DECIMAL(38,0)) AS n, "
            "sum(CAST(x AS DECIMAL(38,0))) AS sx, "
            "sum(CAST(y AS DECIMAL(38,0))) AS sy, "
            "sum(CAST(x * y AS DECIMAL(38,0))) AS sxy, "
            "sum(CAST(x * x AS DECIMAL(38,0))) AS sxx FROM daily GROUP BY 1) "
            "SELECT priority, CAST(n AS BIGINT) AS n_days, "
            "round(CAST(n * sxy - sx * sy AS DOUBLE) / "
            "CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_day "
            "FROM s"
        ),
        "event_transitions": (
            "WITH pairs AS (SELECT event_type AS src, "
            "lead(event_type) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS dst FROM events) "
            "SELECT src, dst, count(*) AS n FROM pairs "
            "WHERE dst IS NOT NULL GROUP BY src, dst "
            "ORDER BY n DESC, src, dst LIMIT 10"
        ),
        "weighted_percentile": (
            # same smallest-v-with->=p%-of-total-weight semantics and the
            # same cum*100 >= p*total comparison form as the Spark side
            "WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS value, CAST(l_quantity AS BIGINT) AS w "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL "
            "AND l_quantity IS NOT NULL), "
            "g AS (SELECT value, sum(w) AS ws FROM v GROUP BY 1), "
            "c AS (SELECT value, sum(ws) OVER (ORDER BY value ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM g), "
            "t AS (SELECT sum(w) AS total FROM v) "
            "SELECT CAST(min(value) AS BIGINT) AS wp50_cents "
            "FROM c, t WHERE cw * 100 >= 50.0 * total"
        ),
        "dedup_canonical": (
            f"WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}), "
            "sym AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs), "
            "reach(id, label) AS ("
            "  SELECT d1, d1 FROM sym "
            "  UNION "
            "  SELECT s.d1, r.label FROM sym s JOIN reach r ON s.d2 = r.id), "
            "cl AS (SELECT id AS doc_id, min(label) AS cluster_id "
            "FROM reach GROUP BY id), "
            "j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars "
            "FROM cl JOIN documents d USING (doc_id)), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id "
            "ORDER BY n_chars DESC, doc_id ASC) AS rn FROM j) "
            "SELECT count(*) AS n_clusters, "
            "CAST((SELECT count(*) FROM j) - count(*) AS BIGINT) AS n_dropped, "
            "CAST(sum(doc_id) AS BIGINT) AS kept_checksum, "
            "CAST(sum(n_chars) AS BIGINT) AS kept_chars FROM r WHERE rn = 1"
        ),
        "chunk_dedup": (
            "WITH toks AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "ch AS (SELECT doc_id, tk, unnest(generate_series(0, "
            "CAST(ceil(len(tk) / 16.0) AS BIGINT) - 1)) AS chunk_idx FROM toks), "
            "ct AS (SELECT doc_id, array_to_string("
            "tk[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') AS chunk_text "
            "FROM ch), "
            f"hs AS (SELECT doc_id, {_h_sql('chunk_text')} AS h FROM ct), "
            "fr AS (SELECT h, count(*) AS freq FROM hs GROUP BY h), "
            "per_doc AS (SELECT doc_id, count(*) AS n_chunks, "
            "CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_dup_chunks FROM hs JOIN fr USING (h) GROUP BY doc_id) "
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_chunks) AS BIGINT) AS n_chunks, "
            "CAST(sum(n_dup_chunks) AS BIGINT) AS n_dup_chunks, "
            "round(sum(n_dup_chunks) * 1.0 / sum(n_chunks), 6) "
            "AS dup_chunk_fraction "
            "FROM per_doc JOIN documents USING (doc_id) GROUP BY source"
        ),
        "zorder_digest": (
            f"WITH z AS (SELECT {_zorder_sql('l_orderkey', 'l_partkey')} "
            "AS z FROM lineitem) "
            "SELECT count(*) AS n_rows, "
            "count(DISTINCT z) AS n_distinct_z, "
            "CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max, "
            "CAST(sum(z) AS BIGINT) AS z_checksum FROM z"
        ),
        "mad_outliers": (
            # same smallest-v-with->=50% semantics as the Spark exact
            # percentile; deviations and MAD over exact integers, only
            # the k*1.4826*mad threshold is a double
            "WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS c FROM orders WHERE o_totalprice IS NOT NULL), "
            "m AS (SELECT min(value) AS med FROM ("
            "  SELECT c AS value, cume_dist() OVER (ORDER BY c) AS cd FROM v"
            ") WHERE cd >= 0.5), "
            "dv AS (SELECT abs(c - med) AS d FROM v, m), "
            "md AS (SELECT min(value) AS mad FROM ("
            "  SELECT d AS value, cume_dist() OVER (ORDER BY d) AS cd FROM dv"
            ") WHERE cd >= 0.5), "
            "thr AS (SELECT med, mad, CAST(3.0 AS DOUBLE) * "
            "CAST(1.4826 AS DOUBLE) * CAST(mad AS DOUBLE) AS t FROM m, md) "
            "SELECT CAST(med AS DOUBLE) AS median, CAST(mad AS DOUBLE) AS mad, "
            "round(t, 6) AS threshold, count(*) AS n_rows, "
            "CAST(sum(CASE WHEN CAST(abs(c - med) AS DOUBLE) > t THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_outliers, "
            "round(sum(CASE WHEN CAST(abs(c - med) AS DOUBLE) > t THEN 1 "
            "ELSE 0 END) * 1.0 / count(*), 6) AS outlier_fraction "
            "FROM v, thr GROUP BY med, mad, t"
        ),
        "gini_revenue": (
            "WITH pc AS (SELECT o_custkey, CAST(sum(CAST(CAST(o_totalprice "
            "AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v "
            "FROM orders GROUP BY o_custkey), "
            "h AS (SELECT v, count(*) AS cnt FROM pc GROUP BY v), "
            "c AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM h), "
            "a AS (SELECT sum(CAST(cnt AS HUGEINT)) AS n, "
            "sum(CAST(v AS HUGEINT) * cnt) AS s, "
            "sum(CAST(v AS HUGEINT) * cnt * "
            "(2 * CAST(cum AS HUGEINT) - cnt + 1)) AS t2 FROM c) "
            "SELECT CAST(n AS BIGINT) AS n_customers, "
            "CAST(s AS BIGINT) AS total_cents, "
            "round(CAST(t2 - (n + 1) * s AS DOUBLE) "
            "/ CAST(n * s AS DOUBLE), 6) AS gini FROM a"
        ),
        "mann_whitney": (
            "WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS v, o_orderstatus AS g FROM orders "
            "WHERE o_orderstatus IN ('F', 'O') AND o_totalprice IS NOT NULL), "
            "h AS (SELECT v, sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS na, "
            "count(*) AS cnt FROM b GROUP BY v), "
            "c AS (SELECT v, na, cnt, sum(cnt) OVER (ORDER BY v) AS cum "
            "FROM h), "
            "a AS (SELECT sum(CAST(na AS HUGEINT)) AS n1, "
            "sum(CAST(cnt AS HUGEINT) - na) AS n2, "
            "sum(CAST(na AS HUGEINT) * "
            "(2 * CAST(cum AS HUGEINT) - cnt + 1)) AS r2a, "
            "sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties FROM c) "
            "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, "
            "round(CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2.0, 1) AS u_a, "
            "round((CAST(r2a - n1 * (n1 + 1) AS DOUBLE) "
            "- CAST(n1 * n2 AS DOUBLE)) / 2.0 "
            "/ sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 * "
            "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) "
            "/ CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))), 6) AS z "
            "FROM a"
        ),
        "chi_squared": (
            "WITH base AS (SELECT event_type AS a, "
            "((CAST(ts AS DATE) - DATE '1970-01-01') % 7) AS b FROM events "
            "WHERE event_type IS NOT NULL AND ts IS NOT NULL), "
            "cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b), "
            "rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a), "
            "cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b), "
            "g AS (SELECT sum(o) AS gt, count(DISTINCT a) AS n_a, "
            "count(DISTINCT b) AS n_b FROM cells), "
            "dense AS (SELECT COALESCE(cells.o, 0) AS o, "
            "CAST(rm.ra * cm.cb AS DOUBLE) / CAST(g.gt AS DOUBLE) AS e, "
            "g.n_a AS n_a, g.n_b AS n_b "
            "FROM rm CROSS JOIN cm "
            "LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b "
            "CROSS JOIN g) "
            "SELECT CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof, "
            "round(sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) "
            "/ e), 6) AS chi2 FROM dense GROUP BY n_a, n_b"
        ),
        "grouping_sets_agg": (
            "SELECT o_orderpriority AS priority, o_orderstatus AS status, "
            "CAST(GROUPING(o_orderpriority) AS INT) AS g_priority, "
            "CAST(GROUPING(o_orderstatus) AS INT) AS g_status, "
            "count(*) AS n_orders, "
            "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS sum_cents "
            "FROM orders GROUP BY GROUPING SETS "
            "((o_orderpriority), (o_orderstatus), ())"
        ),
        "unpivot_metrics": (
            "WITH wide AS (SELECT c_nationkey AS nationkey, "
            "CAST(count(*) AS BIGINT) AS n_customers, "
            "CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS acctbal_cents, "
            "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments "
            "FROM customer GROUP BY c_nationkey) "
            "SELECT nationkey, 'n_customers' AS metric, n_customers AS value "
            "FROM wide "
            "UNION ALL SELECT nationkey, 'acctbal_cents', acctbal_cents "
            "FROM wide "
            "UNION ALL SELECT nationkey, 'n_segments', n_segments FROM wide"
        ),
        "embedding_centroids": (
            "WITH parts AS (SELECT label, "
            "CAST(generate_subscripts(embedding, 1) AS INT) AS component, "
            "CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) "
            "AS DECIMAL(18,6)) AS x "
            "FROM embeddings WHERE embedding IS NOT NULL) "
            "SELECT label, component, CAST(count(*) AS BIGINT) AS n, "
            "round(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) "
            "AS mean FROM parts GROUP BY label, component"
        ),
        "winsorized_mean": (
            "WITH vals AS (SELECT CAST(CAST(o_totalprice AS "
            "DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders "
            "WHERE o_totalprice IS NOT NULL), "
            "cd AS (SELECT c AS v, cume_dist() OVER (ORDER BY c) AS d "
            "FROM vals), "
            "t AS (SELECT (SELECT min(v) FROM cd WHERE d >= 0.05) AS p5, "
            "(SELECT min(v) FROM cd WHERE d >= 0.95) AS p95) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(min(p5) AS BIGINT) AS p5_cents, "
            "CAST(min(p95) AS BIGINT) AS p95_cents, "
            "round(CAST(sum(CAST(greatest(least(c, p95), p5) "
            "AS HUGEINT)) AS DOUBLE) / count(*), 6) "
            "AS winsorized_mean_cents FROM vals CROSS JOIN t"
        ),
        "session_paths": (
            "WITH ranked AS (SELECT user_id, CAST(ts AS DATE) AS day, "
            "event_type, ts, event_id, row_number() OVER "
            "(PARTITION BY user_id, CAST(ts AS DATE) "
            "ORDER BY ts, event_id) AS rn FROM events), "
            "paths AS (SELECT string_agg(event_type, '>' "
            "ORDER BY ts, event_id) AS path FROM ranked WHERE rn <= 20 "
            "GROUP BY user_id, day) "
            "SELECT path, CAST(count(*) AS BIGINT) AS n_sessions "
            "FROM paths GROUP BY path "
            "ORDER BY n_sessions DESC, path LIMIT 20"
        ),
        "equidepth_histogram": (
            "WITH vals AS (SELECT CAST(CAST(l_extendedprice AS "
            "DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM lineitem "
            "WHERE l_extendedprice IS NOT NULL), "
            "cd AS (SELECT c AS v, cume_dist() OVER (ORDER BY c) AS d "
            "FROM vals), "
            "t AS (SELECT "
            + ", ".join(
                f"(SELECT min(v) FROM cd WHERE d >= 0.{p}) AS p{p * 10}"
                for p in range(1, 10)
            )
            + ") SELECT CAST("
            + " + ".join(
                f"(CASE WHEN c > p{p * 10} THEN 1 ELSE 0 END)"
                for p in range(1, 10)
            )
            + " AS INT) AS bucket, count(*) AS n_rows "
            "FROM vals CROSS JOIN t GROUP BY 1"
        ),
        "text_ttr": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS term "
            "FROM documents) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
            "CAST(count(DISTINCT term) AS BIGINT) AS n_types, "
            "round(count(DISTINCT term) / CAST(count(*) AS DOUBLE), 6) "
            "AS ttr FROM toks GROUP BY doc_id"
        ),
        "bigram_pmi": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS term, "
            "generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) "
            "AS ord FROM documents), "
            "bg AS (SELECT a.term AS w1, b.term AS w2 FROM toks a "
            "JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1), "
            "cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2), "
            "cf AS (SELECT w1, sum(cb) AS cf FROM cb GROUP BY 1), "
            "cs AS (SELECT w2, sum(cb) AS cs FROM cb GROUP BY 1), "
            "tot AS (SELECT sum(cb) AS n FROM cb) "
            "SELECT w1, w2, CAST(cb AS BIGINT) AS cb, "
            "round(ln((CAST(cb AS DOUBLE) * CAST(n AS DOUBLE)) "
            "/ (CAST(cf AS DOUBLE) * CAST(cs AS DOUBLE))), 6) AS pmi "
            "FROM cb JOIN cf USING (w1) JOIN cs USING (w2) CROSS JOIN tot "
            "WHERE cb >= 5 "
            "ORDER BY pmi DESC, w1, w2 LIMIT 20"
        ),
        "events_hourly_heatmap": (
            "SELECT event_type, "
            "CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INT) "
            "AS dow, "
            "CAST(hour(ts) AS INT) AS hour, count(*) AS n_events "
            "FROM events GROUP BY event_type, "
            "((CAST(ts AS DATE) - DATE '1970-01-01') % 7), hour(ts)"
        ),
        "percentile_drift": (
            "WITH ca AS (SELECT CAST(CAST(l_extendedprice AS "
            "DECIMAL(18,2)) * 100 AS BIGINT) AS v, cume_dist() OVER "
            "(ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS c FROM lineitem WHERE l_returnflag = 'A'), "
            "cr AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS v, cume_dist() OVER (ORDER BY "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
            "AS c FROM lineitem WHERE l_returnflag = 'R'), "
            "a AS (SELECT 'p25' AS quantile, "
            "(SELECT min(v) FROM ca WHERE c >= 0.25) AS v_a "
            "UNION ALL SELECT 'p50', "
            "(SELECT min(v) FROM ca WHERE c >= 0.5) "
            "UNION ALL SELECT 'p75', "
            "(SELECT min(v) FROM ca WHERE c >= 0.75) "
            "UNION ALL SELECT 'p90', "
            "(SELECT min(v) FROM ca WHERE c >= 0.9) "
            "UNION ALL SELECT 'p99', "
            "(SELECT min(v) FROM ca WHERE c >= 0.99)), "
            "r AS (SELECT 'p25' AS quantile, "
            "(SELECT min(v) FROM cr WHERE c >= 0.25) AS v_r "
            "UNION ALL SELECT 'p50', "
            "(SELECT min(v) FROM cr WHERE c >= 0.5) "
            "UNION ALL SELECT 'p75', "
            "(SELECT min(v) FROM cr WHERE c >= 0.75) "
            "UNION ALL SELECT 'p90', "
            "(SELECT min(v) FROM cr WHERE c >= 0.9) "
            "UNION ALL SELECT 'p99', "
            "(SELECT min(v) FROM cr WHERE c >= 0.99)) "
            "SELECT a.quantile, v_a, v_r, "
            "CAST(v_r - v_a AS BIGINT) AS delta "
            "FROM a JOIN r ON a.quantile = r.quantile"
        ),
        "text_bigram_logprob": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS term, "
            "generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) "
            "AS ord FROM documents), "
            "bg AS (SELECT a.doc_id, a.term AS w1, b.term AS w2 "
            "FROM toks a JOIN toks b ON a.doc_id = b.doc_id "
            "AND b.ord = a.ord + 1), "
            "tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg "
            "GROUP BY 1, 2, 3), "
            "corpus AS (SELECT w1, w2, sum(tf) AS cb FROM tf GROUP BY 1, 2), "
            "fst AS (SELECT w1, sum(cb) AS cf FROM corpus GROUP BY 1), "
            "tot AS (SELECT count(*) AS nbig FROM corpus) "
            "SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams, "
            "round(sum(tf.tf * -ln((cb + 1) / (cf + nbig))) "
            "/ sum(tf.tf), 6) AS mean_neg_logprob "
            "FROM tf JOIN corpus USING (w1, w2) JOIN fst USING (w1) "
            "CROSS JOIN tot GROUP BY tf.doc_id"
        ),
        "event_value_quartiles": (
            "WITH c AS (SELECT event_type, value AS v, cume_dist() OVER "
            "(PARTITION BY event_type ORDER BY value) AS cd FROM events "
            "WHERE value IS NOT NULL) "
            "SELECT event_type, "
            "round(min(CASE WHEN cd >= 0.25 THEN v END), 6) AS p25, "
            "round(min(CASE WHEN cd >= 0.5 THEN v END), 6) AS p50, "
            "round(min(CASE WHEN cd >= 0.75 THEN v END), 6) AS p75 "
            "FROM c GROUP BY event_type"
        ),
        "null_counts_wide": (
            "WITH wide AS (SELECT "
            "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_orderkey, "
            "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_custkey, "
            "CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_orderstatus, "
            "CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_totalprice, "
            "CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_orderdate, "
            "CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS o_orderpriority FROM orders) "
            "SELECT 'o_orderkey' AS column_name, o_orderkey AS n_nulls "
            "FROM wide "
            "UNION ALL SELECT 'o_custkey', o_custkey FROM wide "
            "UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM wide "
            "UNION ALL SELECT 'o_totalprice', o_totalprice FROM wide "
            "UNION ALL SELECT 'o_orderdate', o_orderdate FROM wide "
            "UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM wide"
        ),
        "distinct_customers_matrix": (
            "SELECT c_mktsegment AS segment, "
            "CAST(year(o_orderdate) AS INT) AS o_year, "
            "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment, year(o_orderdate)"
        ),
        "order_interarrival": (
            "WITH gaps AS (SELECT o_orderpriority, "
            "CAST(o_orderdate AS DATE) - lag(CAST(o_orderdate AS DATE)) "
            "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, "
            "o_orderkey) AS gap_days FROM orders) "
            "SELECT o_orderpriority AS priority, "
            "CAST(count(*) AS BIGINT) AS n_gaps, "
            "CAST(sum(gap_days) AS BIGINT) AS sum_gap_days, "
            "CAST(max(gap_days) AS INT) AS max_gap_days, "
            "round(CAST(sum(gap_days) AS DOUBLE) / count(*), 6) "
            "AS avg_gap_days FROM gaps WHERE gap_days IS NOT NULL "
            "GROUP BY o_orderpriority"
        ),
        "source_dup_rate": (
            "WITH per AS (SELECT source, md5(text) AS fp, count(*) AS n "
            "FROM documents GROUP BY source, md5(text)) "
            "SELECT source, CAST(sum(n) AS BIGINT) AS n_docs, "
            "count(*) AS n_unique, "
            "round(1.0 - count(*) / CAST(sum(n) AS DOUBLE), 6) AS dup_rate "
            "FROM per GROUP BY source"
        ),
        "doc_length_histogram": (
            "SELECT lang, CAST(floor(n_chars / 500) * 500 AS BIGINT) "
            "AS len_bucket, count(*) AS n_docs FROM documents "
            "WHERE n_chars IS NOT NULL GROUP BY lang, "
            "CAST(floor(n_chars / 500) * 500 AS BIGINT)"
        ),
        "wasserstein": (
            "WITH a AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS v FROM lineitem WHERE l_returnflag = 'A'), "
            "b AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS v FROM lineitem WHERE l_returnflag = 'R'), "
            "u AS (SELECT CAST(v AS DOUBLE) AS v, "
            "count(*) FILTER (WHERE s = 1) AS n1, "
            "count(*) FILTER (WHERE s = 2) AS n2 FROM ("
            "SELECT v, 1 AS s FROM a UNION ALL SELECT v, 2 FROM b) "
            "GROUP BY v), "
            "c AS (SELECT abs(sum(n1) OVER (ORDER BY v) "
            "/ CAST((SELECT count(*) FROM a) AS DOUBLE) "
            "- sum(n2) OVER (ORDER BY v) "
            "/ CAST((SELECT count(*) FROM b) AS DOUBLE)) AS diff, "
            "lead(v) OVER (ORDER BY v) - v AS dv FROM u) "
            "SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n1, "
            "CAST((SELECT count(*) FROM b) AS BIGINT) AS n2, "
            "round(COALESCE(sum(diff * dv), 0.0), 6) AS emd "
            "FROM c WHERE dv IS NOT NULL"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS sum_qty_cents, "
            "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS sum_base_cents, "
            "CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS HUGEINT) * (100 - CAST(CAST(l_discount "
            "AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) "
            "AS sum_disc_scaled, "
            "CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS HUGEINT) * (100 - CAST(CAST(l_discount "
            "AS DECIMAL(18,2)) * 100 AS BIGINT)) * (100 + "
            "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT))) "
            "AS BIGINT) AS sum_charge_scaled, "
            "count(*) AS n_rows, "
            "round(CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty_cents, "
            "round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT)) AS DOUBLE) / count(*), 6) "
            "AS avg_price_cents "
            "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "q10_returned_items": (
            "SELECT c.c_custkey AS custkey, n.n_name AS nation, "
            "CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS HUGEINT) * (100 - CAST(CAST(l.l_discount "
            "AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) "
            "AS revenue_scaled, count(*) AS n_items "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE l.l_returnflag = 'R' "
            "AND o.o_orderdate >= DATE '1995-10-01' "
            "AND o.o_orderdate < DATE '1996-01-01' "
            "GROUP BY c.c_custkey, n.n_name "
            "ORDER BY revenue_scaled DESC, custkey LIMIT 20"
        ),
        "q7_volume_shipping": (
            "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
            "CAST(year(l.l_shipdate) AS INT) AS l_year, "
            "CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS HUGEINT) * (100 - CAST(CAST(l.l_discount "
            "AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) "
            "AS volume_scaled, count(*) AS n_items "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation sn ON s.s_nationkey = sn.n_nationkey "
            "JOIN nation cn ON c.c_nationkey = cn.n_nationkey "
            "WHERE sn.n_name < cn.n_name "
            "GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)"
        ),
        "grouped_median": (
            "SELECT l_returnflag AS returnflag, min(v) AS median_qty_cents "
            "FROM (SELECT l_returnflag, CAST(CAST(l_quantity AS "
            "DECIMAL(18,2)) * 100 AS BIGINT) AS v, cume_dist() OVER "
            "(PARTITION BY l_returnflag ORDER BY CAST(CAST(l_quantity AS "
            "DECIMAL(18,2)) * 100 AS BIGINT)) AS cd FROM lineitem "
            "WHERE l_quantity IS NOT NULL) WHERE cd >= 0.5 "
            "GROUP BY l_returnflag"
        ),
        "embedding_covariance": (
            "WITH parts AS (SELECT vec_id, "
            "CAST(generate_subscripts(embedding, 1) AS INT) AS comp, "
            "CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) "
            "* 1000000, 0) AS BIGINT) AS xi "
            "FROM embeddings WHERE embedding IS NOT NULL), "
            "p8 AS (SELECT * FROM parts WHERE comp <= 8), "
            "pairs AS (SELECT a.comp AS ci, b.comp AS cj, a.xi AS vx, "
            "b.xi AS vy FROM p8 a JOIN p8 b ON a.vec_id = b.vec_id "
            "AND a.comp <= b.comp), "
            "agg AS (SELECT ci, cj, CAST(count(*) AS HUGEINT) AS n, "
            "sum(CAST(vx AS HUGEINT)) AS sx, sum(CAST(vy AS HUGEINT)) AS sy, "
            "sum(CAST(vx AS HUGEINT) * vy) AS sxy FROM pairs "
            "GROUP BY ci, cj) "
            "SELECT ci AS comp_i, cj AS comp_j, CAST(n AS BIGINT) AS n, "
            "round(CAST(n * sxy - sx * sy AS DOUBLE) "
            "/ CAST(n * n AS DOUBLE) / 1000000000000.0, 6) AS cov FROM agg"
        ),
        "pareto_share": (
            "WITH pc AS (SELECT o_custkey, CAST(sum(CAST(CAST(o_totalprice "
            "AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v "
            "FROM orders GROUP BY o_custkey), "
            "thr AS (SELECT min(v) AS t FROM (SELECT v, cume_dist() OVER "
            "(ORDER BY v) AS cd FROM pc) WHERE cd >= 0.99) "
            "SELECT CAST(count(*) AS BIGINT) AS n_customers, "
            "CAST(sum(CASE WHEN v > (SELECT t FROM thr) THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_top, "
            "round(CAST(sum(CASE WHEN v > (SELECT t FROM thr) THEN v "
            "ELSE 0 END) AS DOUBLE) / CAST(sum(v) AS DOUBLE), 6) "
            "AS top_share FROM pc"
        ),
        "funnel_ordered": (
            "WITH pu AS (SELECT user_id, "
            "min(CASE WHEN event_type = 'signup' THEN ts END) AS t1, "
            "min(CASE WHEN event_type = 'view' THEN ts END) AS t2, "
            "min(CASE WHEN event_type = 'click' THEN ts END) AS t3, "
            "min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4 "
            "FROM events GROUP BY user_id) "
            "SELECT CAST(count(*) AS BIGINT) AS n_users, "
            "CAST(count(t1) AS BIGINT) AS n_signup, "
            "CAST(count(CASE WHEN t2 > t1 THEN 1 END) AS BIGINT) "
            "AS n_viewed, "
            "CAST(count(CASE WHEN t2 > t1 AND t3 > t2 THEN 1 END) "
            "AS BIGINT) AS n_clicked, "
            "CAST(count(CASE WHEN t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 "
            "END) AS BIGINT) AS n_purchased FROM pu"
        ),
        "streaming_interval_join": (
            "SELECT count(*) AS n_matched, "
            "CAST(sum(c.event_id) AS BIGINT) AS sum_click_id, "
            "CAST(sum(p.event_id) AS BIGINT) AS sum_purchase_id "
            "FROM events p JOIN events c ON p.user_id = c.user_id "
            "AND p.event_type = 'purchase' AND c.event_type = 'click' "
            "AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 2 HOUR"
        ),
        "streaming_left_join": (
            # measured Structured Streaming left-outer emission rule:
            # unmatched left rows reach the sink iff their match window
            # closed before the FINAL watermark
            # (min(max p_ts, max c_ts) - delay); see
            # streaming.interval_left_join_streams
            "WITH p AS (SELECT event_id AS purchase_id, user_id AS "
            "p_user, ts AS p_ts FROM events WHERE event_type = "
            "'purchase'), "
            "c AS (SELECT event_id AS click_id, user_id AS c_user, "
            "ts AS c_ts FROM events WHERE event_type = 'click'), "
            "wm AS (SELECT least((SELECT max(p_ts) FROM p), "
            "(SELECT max(c_ts) FROM c)) - INTERVAL 1 HOUR AS w), "
            "m AS (SELECT p.purchase_id, c.click_id FROM p JOIN c ON "
            "p.p_user = c.c_user AND c.c_ts >= p.p_ts AND "
            "c.c_ts < p.p_ts + INTERVAL 2 HOUR), "
            "um AS (SELECT p.purchase_id, NULL::BIGINT AS click_id "
            "FROM p, wm WHERE p.purchase_id NOT IN "
            "(SELECT purchase_id FROM m) AND "
            "p.p_ts + INTERVAL 2 HOUR < wm.w), "
            "allr AS (SELECT * FROM m UNION ALL SELECT * FROM um) "
            "SELECT count(*) AS n_emitted, "
            "count(click_id) AS n_matched, "
            "CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_unmatched, "
            "CAST(sum(purchase_id) AS BIGINT) AS sum_purchase_id, "
            "CAST(sum(click_id) AS BIGINT) AS sum_click_id FROM allr"
        ),
        "spearman": (
            "WITH base AS (SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS x, "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS y FROM lineitem "
            "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL), "
            "hx AS (SELECT x AS v, count(*) AS cnt FROM base GROUP BY x), "
            "cx AS (SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 "
            "AS rx FROM hx), "
            "hy AS (SELECT y AS v, count(*) AS cnt FROM base GROUP BY y), "
            "cy AS (SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 "
            "AS ry FROM hy), "
            "r AS (SELECT cx.rx AS rx, cy.ry AS ry FROM base "
            "JOIN cx ON base.x = cx.v JOIN cy ON base.y = cy.v), "
            "a AS (SELECT CAST(count(*) AS HUGEINT) AS n, "
            "sum(CAST(rx AS HUGEINT)) AS sx, sum(CAST(ry AS HUGEINT)) AS sy, "
            "sum(CAST(rx AS HUGEINT) * ry) AS sxy, "
            "sum(CAST(rx AS HUGEINT) * rx) AS sxx, "
            "sum(CAST(ry AS HUGEINT) * ry) AS syy FROM r) "
            "SELECT CAST(n AS BIGINT) AS n, "
            "round(CAST(n * sxy - sx * sy AS DOUBLE) "
            "/ sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) "
            "/ sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho FROM a"
        ),
        "kaplan_meier": (
            "WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd, "
            "max(CAST(ts AS DATE)) AS ld FROM events GROUP BY user_id), "
            "h AS (SELECT max(CAST(ts AS DATE)) - 14 AS hz FROM events), "
            "subj AS (SELECT (ld - fd) AS dur, CASE WHEN ld < "
            "(SELECT hz FROM h) THEN 1 ELSE 0 END AS ev FROM pu), "
            "per_t AS (SELECT dur AS duration, sum(ev) AS n_events, "
            "count(*) AS n_at FROM subj GROUP BY dur), "
            "tot AS (SELECT sum(n_at) AS t FROM per_t), "
            "cum AS (SELECT duration, n_events, n_at - n_events AS "
            "n_censored, (SELECT t FROM tot) - sum(n_at) OVER "
            "(ORDER BY duration) + n_at AS n_risk FROM per_t), "
            # ln terms accumulate as 12dp pre-rounded DECIMAL(38,12) —
            # mirrors the Spark engine's order-free decimal fold (the
            # bucket-partitioned cumulative), value-identical by
            # construction at any partitioning
            "curve AS (SELECT duration, n_risk, n_events, n_censored, "
            "CASE WHEN max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) "
            "OVER (ORDER BY duration) = 1 THEN 0.0 ELSE "
            "exp(CAST(sum(CAST(round(CASE WHEN n_events < n_risk THEN "
            "ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)) "
            "ELSE 0.0 END, 12) AS DECIMAL(38,12))) "
            "OVER (ORDER BY duration) AS DOUBLE)) END AS survival "
            "FROM cum) "
            "SELECT CAST(duration AS INT) AS duration, "
            "CAST(n_risk AS BIGINT) AS n_risk, "
            "CAST(n_events AS BIGINT) AS n_events, "
            "CAST(n_censored AS BIGINT) AS n_censored, "
            "round(survival, 6) AS survival FROM curve"
        ),
        "association_rules": (
            "WITH b AS (SELECT DISTINCT user_id AS basket, "
            "event_type AS item FROM events "
            "WHERE user_id IS NOT NULL AND event_type IS NOT NULL), "
            "nb AS (SELECT count(DISTINCT basket) AS n FROM b), "
            "ic AS (SELECT item, count(*) AS n FROM b GROUP BY item), "
            "pc AS (SELECT l.item AS item_a, r.item AS item_b, "
            "count(*) AS n_ab FROM b l JOIN b r ON l.basket = r.basket "
            "AND l.item <> r.item GROUP BY l.item, r.item) "
            "SELECT item_a, item_b, ca.n AS n_a, cb.n AS n_b, n_ab, "
            "round(CAST(n_ab AS DOUBLE) "
            "/ CAST((SELECT n FROM nb) AS DOUBLE), 6) AS support, "
            "round(CAST(n_ab AS DOUBLE) / CAST(ca.n AS DOUBLE), 6) "
            "AS confidence, "
            "round(CAST(n_ab * (SELECT n FROM nb) AS DOUBLE) "
            "/ CAST(ca.n * cb.n AS DOUBLE), 6) AS lift "
            "FROM pc JOIN ic ca ON pc.item_a = ca.item "
            "JOIN ic cb ON pc.item_b = cb.item"
        ),
        "graph_pagerank": _pagerank_sql(),
        "graph_bfs": (
            "WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM "
            f"({_trade_edges_sql()})), "
            "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
            "s AS (SELECT min(node) AS node FROM nodes), "
            "reach(node, hops) AS ("
            "SELECT node, 0 FROM s "
            "UNION "
            "SELECT e.dst, r.hops + 1 FROM reach r "
            "JOIN e ON r.node = e.src WHERE r.hops < 20) "
            "SELECT node, CAST(min(hops) AS INT) AS hops "
            "FROM reach GROUP BY node"
        ),
        "grouped_ks": _grouped_ks_sql(),
        "theil_sen_slope": _theil_sen_sql(),
        "ann_topk_pq": _pq_sql(),
        "dedup_containment": (
            f"WITH {_SHINGLES_CTE}, "
            f"shh AS (SELECT doc_id, {_h_sql('s')} AS s FROM sh), "
            "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM shh "
            f"GROUP BY s) WHERE df <= {_JACCARD_MAXDF}), "
            "shf AS (SELECT doc_id, s FROM shh JOIN rare USING (s)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
            "FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT d1, d2, round(i * 1.0 / s1.n, 6) AS c1, "
            "round(i * 1.0 / s2.n, 6) AS c2 "
            "FROM inter JOIN sizes s1 ON d1 = s1.doc_id "
            "JOIN sizes s2 ON d2 = s2.doc_id "
            "WHERE round(i * 1.0 / s1.n, 6) >= 0.8 "
            "OR round(i * 1.0 / s2.n, 6) >= 0.8"
        ),
        "ann_topk_ivf_pq": _ivf_pq_sql(),
        "ann_recall_ivf": _ann_recall_sql(),
        "grouped_quantile_grid": _grouped_quantile_grid_sql(),
        "grouped_theil_sen": _grouped_theil_sen_sql(),
        # overlapping 32-byte windows at 16-byte hop over the UTF-8
        # payload; ASCII corpus (verified) => char arithmetic == byte
        # arithmetic, as with the resize/frames digests above
        "multimodal_audio_windows": (
            "WITH t AS (SELECT doc_id, text, length(text) AS n "
            "FROM documents), "
            "w AS (SELECT doc_id, text, "
            "unnest(range(0, (n + 15) // 16)) AS k FROM t) "
            "SELECT doc_id, CAST(k AS BIGINT) AS win_idx, "
            "CAST(length(substring(text, CAST(1 + k * 16 AS BIGINT), 32)) "
            "AS BIGINT) AS win_len, "
            "md5(substring(text, CAST(1 + k * 16 AS BIGINT), 32)) "
            "AS win_md5 FROM w"
        ),
        "boilerplate_ngrams": (
            "WITH toks AS (SELECT doc_id, source, "
            "string_split_regex(trim(text), '\\s+') AS tk FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, source, s FROM toks, "
            "UNNEST(list_transform(generate_series(1, "
            f"greatest(len(tk)-{_SHINGLE_N - 1}, 0)), "
            f"i -> array_to_string(tk[i:i+{_SHINGLE_N - 1}], ' '))) AS u(s)), "
            f"shh AS (SELECT doc_id, source, {_h_sql('s')} AS s FROM sh), "
            "agg AS (SELECT s, count(*) AS n_docs, "
            "count(DISTINCT source) AS n_sources FROM shh GROUP BY s) "
            "SELECT s, CAST(n_docs AS BIGINT) AS n_docs, "
            "CAST(n_sources AS BIGINT) AS n_sources FROM agg "
            "WHERE n_docs >= 5 AND n_sources >= 2 "
            "ORDER BY n_docs DESC, n_sources DESC, s ASC LIMIT 100"
        ),
        "graph_triangles": (
            "WITH e0 AS (SELECT DISTINCT least(src, dst) AS u, "
            "greatest(src, dst) AS v FROM "
            f"({_trade_edges_sql()}) WHERE src <> dst "
            "AND src IS NOT NULL AND dst IS NOT NULL), "
            "deg AS (SELECT n, count(*) AS d FROM "
            "(SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) "
            "GROUP BY n), "
            "base AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, "
            "CAST(sum(d) / 2 AS BIGINT) AS n_edges, "
            "CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg), "
            "tri AS (SELECT count(*) AS t FROM e0 ab "
            "JOIN e0 bc ON ab.v = bc.u "
            "JOIN e0 ac ON ac.u = ab.u AND ac.v = bc.v) "
            "SELECT n_nodes, n_edges, n_wedges, "
            "CAST(t AS BIGINT) AS n_triangles, "
            "round(CASE WHEN n_wedges > 0 THEN "
            "3.0 * CAST(t AS DOUBLE) / CAST(n_wedges AS DOUBLE) END, 6) "
            "AS clustering FROM base, tri"
        ),
        "mutual_information": (
            # same log-sum parse tree as the Spark operator: each term is
            # (o/g)·(ln o + ln g − ln ra − ln cb), entropies from the
            # same joined cells
            "WITH base AS (SELECT event_type AS a, "
            "((CAST(ts AS DATE) - DATE '1970-01-01') % 7) AS b FROM events "
            "WHERE event_type IS NOT NULL AND ts IS NOT NULL), "
            "cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b), "
            "rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a), "
            "cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b), "
            "g AS (SELECT sum(o) AS gt FROM cells), "
            "j AS (SELECT CAST(o AS DOUBLE) AS o, "
            "CAST(ra AS DOUBLE) AS ra, CAST(cb AS DOUBLE) AS cb, "
            "CAST(gt AS DOUBLE) AS g FROM cells "
            "JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN g), "
            "agg AS (SELECT max(g) AS n, "
            "sum((o / g) * (ln(o) + ln(g) - ln(ra) - ln(cb))) AS mi, "
            "sum(-(o / g) * (ln(ra) - ln(g))) AS ha, "
            "sum(-(o / g) * (ln(cb) - ln(g))) AS hb FROM j) "
            "SELECT CAST(n AS BIGINT) AS n, round(mi, 6) AS mi, "
            "round(CASE WHEN ha > 0 AND hb > 0 "
            "THEN mi / sqrt(ha * hb) END, 6) AS nmi FROM agg"
        ),
        "isotonic_calibration": (
            # same bucket arithmetic, decimal prefix sums, minimax
            # windows as the Spark operator
            "WITH base AS (SELECT "
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS x, "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS y FROM lineitem "
            "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL), "
            "bounds AS (SELECT CAST(min(x) AS DOUBLE) AS lo, "
            "CAST(max(x) AS DOUBLE) AS hi FROM base), "
            "cells AS (SELECT CASE WHEN hi = lo THEN 0 ELSE "
            "least(CAST(floor((CAST(x AS DOUBLE) - lo) / "
            "((hi - lo) / 32.0)) AS INTEGER), 31) END AS bucket, "
            "count(*) AS w, sum(CAST(y AS DECIMAL(38,0))) AS sy "
            "FROM base, bounds GROUP BY 1), "
            "pre AS (SELECT bucket, w, sy, "
            "sum(w) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS cw, "
            "sum(sy) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS cs FROM cells), "
            "pair AS (SELECT j.bucket AS j, k.bucket AS i_or_k, "
            "CAST(k.cs - (j.cs - j.sy) AS DOUBLE) / "
            "CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS a "
            "FROM pre j JOIN pre k ON j.bucket <= k.bucket), "
            "r AS (SELECT j, i_or_k AS i, "
            "min(a) OVER (PARTITION BY j ORDER BY i_or_k DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r "
            "FROM pair), "
            "fit AS (SELECT i, max(r) AS f FROM r GROUP BY i) "
            "SELECT cells.bucket, CAST(w AS BIGINT) AS n, "
            "round(CAST(sy AS DOUBLE) / CAST(w AS DOUBLE), 6) AS mean_y, "
            "round(f, 6) AS fitted "
            "FROM cells JOIN fit ON cells.bucket = fit.i "
            "ORDER BY cells.bucket"
        ),
        "mahalanobis_outliers": (
            # same distinct-pair collapse, decimal sufficient stats and
            # fixed-shape double quadratic form as the Spark operator;
            # ordering on the ROUNDED distance with (x, y) tiebreak
            "WITH pts AS (SELECT "
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS x, "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS y, count(*) AS cnt FROM lineitem "
            "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL "
            "GROUP BY 1, 2), "
            "suff AS (SELECT sum(CAST(cnt AS DECIMAL(38,0))) AS n, "
            "sum(CAST(CAST(cnt AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) "
            "AS sx, "
            "sum(CAST(CAST(cnt AS DECIMAL(19,0)) * y AS DECIMAL(38,0))) "
            "AS sy, "
            "sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0)) "
            "* cnt) AS sxx, "
            "sum(CAST(CAST(y AS DECIMAL(19,0)) * y AS DECIMAL(38,0)) "
            "* cnt) AS syy, "
            "sum(CAST(CAST(x AS DECIMAL(19,0)) * y AS DECIMAL(38,0)) "
            "* cnt) AS sxy FROM pts), "
            "scored AS (SELECT x, y, CAST(cnt AS BIGINT) AS cnt, "
            "round((CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE) * "
            "(CAST(n * syy - sy * sy AS DOUBLE) * "
            "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / "
            "CAST(n AS DOUBLE)) "
            "- 2.0 * CAST(n * sxy - sx * sy AS DOUBLE) * "
            "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / "
            "CAST(n AS DOUBLE)) "
            "+ CAST(n * sxx - sx * sx AS DOUBLE) * "
            "(CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / "
            "CAST(n AS DOUBLE))) / "
            "(CAST(n * sxx - sx * sx AS DOUBLE) * "
            "CAST(n * syy - sy * sy AS DOUBLE) - "
            "CAST(n * sxy - sx * sy AS DOUBLE) * "
            "CAST(n * sxy - sx * sy AS DOUBLE)), 6) AS d2 "
            "FROM pts, suff "
            "WHERE CAST(n * sxx - sx * sx AS DOUBLE) * "
            "CAST(n * syy - sy * sy AS DOUBLE) - "
            "CAST(n * sxy - sx * sy AS DOUBLE) * "
            "CAST(n * sxy - sx * sy AS DOUBLE) > 0) "
            "SELECT x AS q_cents, y AS p_cents, cnt, d2 FROM scored "
            "ORDER BY d2 DESC, x, y LIMIT 20"
        ),
        "graph_assortativity": (
            # same canonicalization, degree aggregate, decimal
            # sufficient statistics and single double conversion as the
            # Spark operator
            f"WITH e0 AS ({_trade_edges_sql()}), "
            "t AS (SELECT avg(w) AS aw FROM e0), "
            "strong AS (SELECT src, dst FROM e0, t WHERE w > 1.5 * aw), "
            "e AS (SELECT DISTINCT least(src, dst) AS u, "
            "greatest(src, dst) AS v FROM strong "
            "WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL), "
            "deg AS (SELECT n, count(*) AS d FROM "
            "(SELECT u AS n FROM e UNION ALL SELECT v FROM e) "
            "GROUP BY n), "
            "paired AS (SELECT du.d AS du, dv.d AS dv FROM e "
            "JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), "
            "suff AS (SELECT count(*) AS m, "
            "sum(CAST(du + dv AS DECIMAL(38,0))) AS sx, "
            "sum(CAST(CAST(du AS DECIMAL(19,0)) * dv AS DECIMAL(38,0))) "
            "* 2 AS sxy, "
            "sum(CAST(CAST(du AS DECIMAL(19,0)) * du AS DECIMAL(38,0)) "
            "+ CAST(CAST(dv AS DECIMAL(19,0)) * dv AS DECIMAL(38,0))) "
            "AS sxx FROM paired), "
            "nn AS (SELECT count(*) AS n_nodes FROM deg) "
            "SELECT CAST(n_nodes AS BIGINT) AS n_nodes, "
            "CAST(m AS BIGINT) AS n_edges, "
            "CASE WHEN CAST(CAST(m * 2 AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE) > 0 THEN "
            "round(CAST(CAST(m * 2 AS DECIMAL(38,0)) * sxy - "
            "sx * sx AS DOUBLE) / "
            "CAST(CAST(m * 2 AS DECIMAL(38,0)) * sxx - "
            "sx * sx AS DOUBLE), 6) END AS assortativity "
            "FROM suff, nn"
        ),
        "theils_u": (
            # same cells/margins/log-sum parse tree as mutual_information
            "WITH base AS (SELECT event_type AS a, "
            "((CAST(ts AS DATE) - DATE '1970-01-01') % 7) AS b FROM events "
            "WHERE event_type IS NOT NULL AND ts IS NOT NULL), "
            "cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b), "
            "rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a), "
            "cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b), "
            "g AS (SELECT sum(o) AS gt FROM cells), "
            "j AS (SELECT CAST(o AS DOUBLE) AS o, "
            "CAST(ra AS DOUBLE) AS ra, CAST(cb AS DOUBLE) AS cb, "
            "CAST(gt AS DOUBLE) AS g FROM cells "
            "JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN g), "
            "agg AS (SELECT max(g) AS n, "
            "sum((o / g) * (ln(o) + ln(g) - ln(ra) - ln(cb))) AS mi, "
            "sum(-(o / g) * (ln(ra) - ln(g))) AS ha, "
            "sum(-(o / g) * (ln(cb) - ln(g))) AS hb FROM j) "
            "SELECT CAST(n AS BIGINT) AS n, "
            "round(CASE WHEN ha > 0 THEN mi / ha END, 6) AS u_a_given_b, "
            "round(CASE WHEN hb > 0 THEN mi / hb END, 6) AS u_b_given_a "
            "FROM agg"
        ),
        "cramers_v": (
            # same dense grid as chi_squared, plus the min-dimension
            # normalization
            "WITH base AS (SELECT event_type AS a, "
            "((CAST(ts AS DATE) - DATE '1970-01-01') % 7) AS b FROM events "
            "WHERE event_type IS NOT NULL AND ts IS NOT NULL), "
            "cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b), "
            "rm AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a), "
            "cm AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b), "
            "g AS (SELECT sum(o) AS gt, count(DISTINCT a) AS n_a, "
            "count(DISTINCT b) AS n_b FROM cells), "
            "dense AS (SELECT COALESCE(cells.o, 0) AS o, "
            "CAST(rm.ra * cm.cb AS DOUBLE) / CAST(g.gt AS DOUBLE) AS e, "
            "g.n_a AS n_a, g.n_b AS n_b, g.gt AS gt "
            "FROM rm CROSS JOIN cm "
            "LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b "
            "CROSS JOIN g), "
            "agg AS (SELECT n_a, n_b, gt, "
            "sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) "
            "AS chi2 FROM dense GROUP BY n_a, n_b, gt) "
            "SELECT CAST(gt AS BIGINT) AS n, "
            "CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof, "
            "round(chi2, 6) AS chi2, "
            "round(CASE WHEN least(n_a - 1, n_b - 1) > 0 THEN "
            "sqrt(chi2 / (CAST(gt AS DOUBLE) * "
            "CAST(least(n_a - 1, n_b - 1) AS DOUBLE))) END, 6) AS v "
            "FROM agg"
        ),
        "js_divergence": (
            # identical smoothing and fold as the Spark operator; buckets
            # are the same clamped fixed-width arithmetic as psi_drift,
            # densified to the full 0..9 spine (a both-empty bucket still
            # contributes a smoothed term whenever the totals differ)
            "WITH sp AS (SELECT unnest(range(0, 10)) AS bucket), "
            "c1 AS (SELECT least(greatest(CAST(floor((value - 0.0) "
            "/ 50.0) AS BIGINT), 0), 9) AS bucket, count(*) AS n1 "
            "FROM events WHERE value IS NOT NULL "
            "AND event_type = 'click' GROUP BY 1), "
            "c2 AS (SELECT least(greatest(CAST(floor((value - 0.0) "
            "/ 50.0) AS BIGINT), 0), 9) AS bucket, count(*) AS n2 "
            "FROM events WHERE value IS NOT NULL "
            "AND event_type = 'view' GROUP BY 1), "
            "jn AS (SELECT sp.bucket AS bucket, "
            "COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2 "
            "FROM sp LEFT JOIN c1 ON sp.bucket = c1.bucket "
            "LEFT JOIN c2 ON sp.bucket = c2.bucket), "
            "t AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM jn), "
            "pq AS (SELECT (n1 + 0.5) / (t1 + 5.0) AS p, "
            "(n2 + 0.5) / (t2 + 5.0) AS q, t1, t2 FROM jn, t) "
            "SELECT round(CASE WHEN max(t1) > 0 AND max(t2) > 0 THEN "
            "sum(0.5 * p * ln(p / ((p + q) / 2)) "
            "+ 0.5 * q * ln(q / ((p + q) / 2))) END, 6) AS jsd FROM pq"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, CAST(count(*) AS BIGINT) "
            "AS order_count FROM orders o "
            "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o.o_orderdate < TIMESTAMP '1996-04-01' "
            "AND EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND CAST(l.l_shipdate AS DATE) "
            "> CAST(o.o_orderdate AS DATE) + 30) "
            "GROUP BY o_orderpriority"
        ),
        "q18_large_orders": (
            "WITH big AS (SELECT l_orderkey, "
            "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sumq "
            "FROM lineitem GROUP BY 1 "
            "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) "
            "SELECT c.c_name, c.c_custkey, o.o_orderkey, "
            "CAST(o.o_orderdate AS DATE) AS order_day, "
            "round(CAST(o.o_totalprice AS DOUBLE), 2) AS total_price, "
            "round(CAST(sumq AS DOUBLE), 6) AS sum_qty "
            "FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "ORDER BY o.o_totalprice DESC, order_day ASC, "
            "o.o_orderkey ASC LIMIT 100"
        ),
        "q14_promo_revenue_share": (
            "SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) "
            "END) * 10000 AS BIGINT) AS promo_rev_e4, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS total_rev_e4, "
            "round(100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) "
            "END) * 10000 AS BIGINT) AS DOUBLE) / "
            "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS DOUBLE), 6) AS promo_pct "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01' "
            "AND CAST(l_shipdate AS DATE) < DATE '1997-03-01'"
        ),
        "grouped_approx_distinct": (
            # the oracle computes the exact side per group; within_tol
            # TRUE asserts every group's HLL landed inside 3x its rsd
            "SELECT o_orderpriority, "
            "count(DISTINCT o_custkey) AS exact_distinct, "
            "TRUE AS within_tol FROM orders GROUP BY 1"
        ),
        "q11_important_parts": (
            # 1.5x-mean cut as decimal-integer arithmetic:
            # v * n_parts * 2 > 3 * total
            "WITH rev AS (SELECT l_partkey, "
            "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "AS v FROM lineitem GROUP BY 1), "
            "t AS (SELECT sum(v) AS t, count(*) AS np FROM rev) "
            "SELECT CAST(l_partkey AS BIGINT) AS part_key, "
            "CAST(v * 10000 AS BIGINT) AS value_e4 "
            "FROM rev, t WHERE v * np * 2 > t * 3 "
            "ORDER BY value_e4 DESC, part_key"
        ),
        "q22_idle_customers": (
            # avg as bal * n > sum (decimal-exact), NOT EXISTS anti join
            "WITH pos AS (SELECT "
            "sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, "
            "count(*) AS n FROM customer WHERE c_acctbal > 0) "
            "SELECT CAST(c_nationkey AS BIGINT) AS nation_key, "
            "CAST(count(*) AS BIGINT) AS numcust, "
            "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) "
            "AS totacctbal_cents "
            "FROM customer, pos "
            "WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s "
            "AND NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_custkey = c_custkey "
            "AND o_orderdate >= TIMESTAMP '2000-07-01') "
            "GROUP BY 1"
        ),
        "q19_disjunctive_revenue": (
            "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS revenue_e4, "
            "CAST(count(*) AS BIGINT) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 1 AND 20) "
            "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 "
            "AND l_quantity BETWEEN 10 AND 35) "
            "OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 "
            "AND l_quantity BETWEEN 20 AND 50)"
        ),
        "q21_suppliers_waiting": (
            # EXISTS + NOT EXISTS with different correlation against the
            # same table; "late" = shipped >30 days after the order date
            # (the q4 substitution — synthetic lineitem has no
            # commit/receipt dates)
            "WITH late AS (SELECT l.l_orderkey, l.l_suppkey "
            "FROM lineitem l JOIN orders o "
            "ON l.l_orderkey = o.o_orderkey "
            "WHERE o.o_orderstatus = 'F' AND CAST(l.l_shipdate AS DATE) "
            "> CAST(o.o_orderdate AS DATE) + 30) "
            "SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait "
            "FROM late l1 "
            "JOIN supplier s ON l1.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            "AND r.r_name = 'EUROPE' "
            "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
            "WHERE l2.l_orderkey = l1.l_orderkey "
            "AND l2.l_suppkey <> l1.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM late l3 "
            "WHERE l3.l_orderkey = l1.l_orderkey "
            "AND l3.l_suppkey <> l1.l_suppkey) "
            "GROUP BY s.s_name "
            "ORDER BY numwait DESC, s.s_name ASC LIMIT 100"
        ),
        "q20_volume_suppliers": (
            # nested semi-join chain: supplier IN (suppliers with a >6%
            # pre-1996 share of a part IN ('large%' parts)); integer-
            # exact share test in cents, both aggregates pruned to the
            # qualifying parts
            "WITH pf AS (SELECT p_partkey FROM part "
            "WHERE p_name LIKE 'large%'), "
            "q95 AS (SELECT l_suppkey, l_partkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS c95 FROM lineitem "
            "WHERE l_shipdate < TIMESTAMP '1996-01-01' "
            "AND l_partkey IN (SELECT p_partkey FROM pf) "
            "GROUP BY 1, 2), "
            "qtot AS (SELECT l_partkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) "
            "AS ctot FROM lineitem "
            "WHERE l_partkey IN (SELECT p_partkey FROM pf) GROUP BY 1), "
            "cand AS (SELECT DISTINCT q95.l_suppkey FROM q95 "
            "JOIN qtot ON q95.l_partkey = qtot.l_partkey "
            "WHERE q95.c95 * 100 > qtot.ctot * 6) "
            "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_regionkey IN (0, 1) "
            "AND s_suppkey IN (SELECT l_suppkey FROM cand) "
            "ORDER BY s_suppkey"
        ),
        "q8_market_share": (
            "WITH flat AS (SELECT CAST(year(o.o_orderdate) AS INT) "
            "AS o_year, sn.n_name AS supp_nation, "
            "CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS HUGEINT) * (100 - CAST(CAST(l.l_discount "
            "AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vol "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation sn ON s.s_nationkey = sn.n_nationkey "
            "WHERE l.l_partkey IN (SELECT p_partkey FROM part "
            "WHERE p_type = 'PROMO') "
            "AND c.c_nationkey IN (SELECT n_nationkey FROM nation "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'AMERICA') "
            "AND o.o_orderdate >= DATE '1995-01-01' "
            "AND o.o_orderdate < DATE '1997-01-01') "
            "SELECT o_year, "
            "CAST(sum(vol) AS BIGINT) AS total_volume_scaled, "
            "CAST(sum(CASE WHEN supp_nation = 'NATION_15' THEN vol "
            "ELSE 0 END) AS BIGINT) AS nation_volume_scaled, "
            "round(CAST(sum(CASE WHEN supp_nation = 'NATION_15' THEN vol "
            "ELSE 0 END) AS DOUBLE) / CAST(sum(vol) AS DOUBLE), 6) "
            "AS mkt_share FROM flat GROUP BY o_year"
        ),
        "density_core_points": _density_core_sql(),
        "vocab_stats": (
            "WITH toks AS (SELECT unnest(string_split_regex(trim(text), "
            "'\\s+')) AS tok FROM documents WHERE text IS NOT NULL), "
            "per AS (SELECT tok, count(*) AS n FROM toks "
            "WHERE tok <> '' GROUP BY 1), "
            "agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens, "
            "count(*) AS n_types, "
            "count(CASE WHEN n = 1 THEN 1 END) AS n_hapax FROM per), "
            "d AS (SELECT count(*) AS n_docs FROM documents "
            "WHERE text IS NOT NULL) "
            "SELECT n_docs, n_tokens, n_types, n_hapax, "
            "round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_frac, "
            "round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr "
            "FROM d, agg"
        ),
        "bm25_topk": (
            # identical IEEE expression shape/order as the Spark side;
            # per-term scores rounded at 1e-6 and summed as BIGINT so
            # the per-doc total is summation-order independent
            "WITH toks AS (SELECT doc_id AS _id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS term "
            "FROM documents WHERE text IS NOT NULL), "
            "dl AS (SELECT _id, count(*) AS dl FROM toks GROUP BY 1), "
            "tf AS (SELECT _id, term, count(*) AS tf FROM toks "
            "WHERE term IN ('hash', 'vector', 'stream') GROUP BY 1, 2), "
            "dfreq AS (SELECT term, count(*) AS _df FROM tf GROUP BY 1), "
            "scal AS (SELECT count(*) AS _n, avg(dl) AS _avgdl FROM dl), "
            "scored AS (SELECT _id, CAST(round("
            "ln((_n - _df + 0.5) / (_df + 0.5) + 1.0) "
            "* ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 "
            "+ 0.75 * dl / _avgdl))) * 1000000.0, 0) AS BIGINT) AS se6 "
            "FROM tf JOIN dfreq USING (term) JOIN dl USING (_id), scal) "
            "SELECT _id AS doc_id, CAST(sum(se6) AS BIGINT) AS score_e6, "
            "count(*) AS n_terms FROM scored GROUP BY 1 "
            "ORDER BY score_e6 DESC, doc_id ASC LIMIT 10"
        ),
        "hybrid_rrf_topk": _hybrid_rrf_sql(),
        "grouped_heavy_hitters": (
            "WITH c AS (SELECT source, lang, count(*) AS n "
            "FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL "
            "GROUP BY 1, 2), "
            "t AS (SELECT source, sum(n) AS gt FROM c GROUP BY 1) "
            "SELECT c.source AS source, c.lang AS lang, "
            "CAST(c.n AS BIGINT) AS n, CAST(t.gt AS BIGINT) AS group_total, "
            "round(CAST(c.n AS DOUBLE) / t.gt, 6) AS share "
            "FROM c JOIN t ON c.source = t.source "
            "WHERE c.n * 1000000 >= t.gt * 100000 "
            "ORDER BY source, lang"
        ),
        "weighted_sample": (
            # same md5-derived uniform, same ln(u)/w priority, same
            # (priority DESC, key ASC) cut — ln/division are IEEE-
            # identical cross-engine (mutual_information precedent)
            "WITH base AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w, "
            "CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) "
            "AS UBIGINT) AS BIGINT) AS h FROM documents "
            "WHERE doc_id IS NOT NULL AND n_chars > 0), "
            "pri AS (SELECT doc_id, w, "
            "ln((CAST(h AS DOUBLE) + 1.0) / 1152921504606846977.0) / w "
            "AS p FROM base) "
            "SELECT doc_id, w AS weight, round(p, 6) AS priority "
            "FROM pri ORDER BY p DESC, doc_id ASC LIMIT 50"
        ),
        "pareto_frontier": (
            # same sweep as operators.olap.skyline_2d: per-x group max,
            # EXCLUSIVE running max over strictly-smaller x, keep y
            # beating it; equal points never dominate each other
            "WITH pairs AS (SELECT "
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS x, "
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y, "
            "count(*) AS n FROM lineitem "
            "WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL "
            "GROUP BY 1, 2), "
            "grp AS (SELECT x, max(y) AS gm FROM pairs GROUP BY 1), "
            "strict AS (SELECT x, gm, max(gm) OVER (ORDER BY x "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS st "
            "FROM grp) "
            "SELECT p.x AS price_cents, p.y AS qty_cents, "
            "CAST(p.n AS BIGINT) AS n "
            "FROM pairs p JOIN strict s ON p.x = s.x AND p.y = s.gm "
            "WHERE s.st IS NULL OR p.y > s.st ORDER BY price_cents"
        ),
        "q6_forecast_revenue": (
            "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "CAST(l_discount AS DECIMAL(3,2))) * 10000 AS BIGINT) "
            "AS revenue_e4, count(*) AS n_items FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount >= 0.05 AND l_discount <= 0.07 "
            "AND l_quantity < 24"
        ),
        "q12_shipmode_priority": (
            # returnflag plays shipmode; late = shipped >30 days after
            # the order date (q4/q21 substitution)
            "SELECT l_returnflag, "
            "count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 END) AS high_line_count, "
            "count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
            "THEN 1 END) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30 "
            "AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01' "
            "AND CAST(l_shipdate AS DATE) < DATE '1997-01-01' "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        "q13_customer_order_counts": (
            "WITH per AS (SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "AND o_orderpriority <> '4-NOT SPECIFIED' "
            "GROUP BY c_custkey) "
            "SELECT CAST(c_count AS BIGINT) AS c_count, "
            "count(*) AS custdist FROM per GROUP BY c_count "
            "ORDER BY custdist DESC, c_count DESC"
        ),
        "q15_top_supplier": (
            "WITH revenue AS (SELECT l_suppkey, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) "
            "* 10000 AS BIGINT) AS total_rev_e4 FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
            "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
            "total_rev_e4 FROM revenue JOIN supplier "
            "ON l_suppkey = s_suppkey "
            "WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM revenue) "
            "ORDER BY s_suppkey"
        ),
        "q16_supplier_part_counts": (
            "WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey "
            "FROM lineitem), "
            "bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
            "SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size, "
            "count(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM pairs JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#21' "
            "AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22) "
            "AND l_suppkey NOT IN (SELECT s_suppkey FROM bad) "
            "GROUP BY p_brand, p_type, p_size "
            "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
        ),
        "q17_small_quantity_revenue": (
            # qty < 0.2 * avg(part qty)  <=>  5*qty_cents*n < sum_cents
            # — integer-exact, no double average
            "WITH branded AS (SELECT l_partkey, l_extendedprice, "
            "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qc "
            "FROM lineitem WHERE l_partkey IN "
            "(SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')), "
            "stats AS (SELECT l_partkey AS pk, "
            "CAST(sum(qc) AS BIGINT) AS s, count(*) AS n FROM branded "
            "GROUP BY 1) "
            "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 "
            "AS BIGINT) AS revenue_e2, count(*) AS n_rows "
            "FROM branded JOIN stats ON l_partkey = pk "
            "WHERE qc * 5 * n < s"
        ),
        "q2_min_cost_supplier": (
            # correlated scalar MIN decorrelated to a per-part aggregate
            # join-back; supply cost derived from lineitem (no partsupp
            # in the synthetic schema). Double division both sides.
            "WITH s AS (SELECT s_suppkey, s_name, s_acctbal, n_name "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'EUROPE'), "
            "costs AS (SELECT l_partkey, l_suppkey, "
            "min(CAST(l_extendedprice AS DOUBLE) "
            "/ CAST(l_quantity AS DOUBLE)) AS cost "
            "FROM lineitem JOIN s ON l_suppkey = s.s_suppkey "
            "WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey), "
            "mc AS (SELECT l_partkey AS pk, min(cost) AS min_cost "
            "FROM costs GROUP BY 1) "
            "SELECT round(CAST(s.s_acctbal AS DOUBLE), 2) AS acctbal, "
            "s.s_name, s.n_name, p.p_partkey, p.p_type, "
            "round(c.cost, 6) AS supply_cost "
            "FROM costs c JOIN mc ON c.l_partkey = mc.pk "
            "AND c.cost = mc.min_cost "
            "JOIN part p ON c.l_partkey = p.p_partkey "
            "AND p.p_type = 'LARGE' AND p.p_size <= 25 "
            "JOIN s ON c.l_suppkey = s.s_suppkey "
            "ORDER BY acctbal DESC, s.n_name ASC, s.s_name ASC, "
            "p.p_partkey ASC LIMIT 100"
        ),
        # same integer-exact per-phase sums as operators.timeseries
        # .seasonality_strength; SSE folds LEFT-TO-RIGHT in ascending
        # phase order (list ORDER BY p + list_reduce), mirroring the
        # operator's driver fold — a set-ordered double sum differs in
        # its last ulp
        "grouped_ols_trend": (
            # identical double expression shape as grouped_ols2: Cramer
            # on doubles string-converted ONCE from decimal-exact
            # integer sums
            "WITH daily AS (SELECT o_orderpriority AS prio, "
            "CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS cents FROM orders GROUP BY 1, 2), "
            "feat AS (SELECT prio, (day - DATE '1992-01-01') AS dnum, "
            "CASE WHEN ((day - DATE '1970-01-01') % 7) IN (2, 3) "
            "THEN 1 ELSE 0 END AS wkend, cents FROM daily), "
            "st AS (SELECT prio, count(*) AS n, "
            "sum(CAST(dnum AS DECIMAL(38,0))) AS s1, "
            "sum(CAST(wkend AS DECIMAL(38,0))) AS s2, "
            "sum(CAST(cents AS DECIMAL(38,0))) AS sy, "
            "sum(CAST(CAST(dnum AS DECIMAL(19,0)) * dnum "
            "AS DECIMAL(38,0))) AS s11, "
            "sum(CAST(CAST(dnum AS DECIMAL(19,0)) * wkend "
            "AS DECIMAL(38,0))) AS s12, "
            "sum(CAST(CAST(wkend AS DECIMAL(19,0)) * wkend "
            "AS DECIMAL(38,0))) AS s22, "
            "sum(CAST(CAST(dnum AS DECIMAL(19,0)) * cents "
            "AS DECIMAL(38,0))) AS s1y, "
            "sum(CAST(CAST(wkend AS DECIMAL(19,0)) * cents "
            "AS DECIMAL(38,0))) AS s2y, "
            "sum(CAST(CAST(cents AS DECIMAL(19,0)) * cents "
            "AS DECIMAL(38,0))) AS syy FROM feat GROUP BY 1), "
            # decimal -> VARCHAR -> double mirrors the engine's
            # string-routed conversion: correctly-rounded parse on
            # both sides, bit-identical past 2^53
            "dd AS (SELECT prio, n, CAST(n AS DOUBLE) AS nd, "
            "CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS v1, "
            "CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS v2, "
            "CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS vy, "
            "CAST(CAST(s11 AS VARCHAR) AS DOUBLE) AS v11, "
            "CAST(CAST(s12 AS VARCHAR) AS DOUBLE) AS v12, "
            "CAST(CAST(s22 AS VARCHAR) AS DOUBLE) AS v22, "
            "CAST(CAST(s1y AS VARCHAR) AS DOUBLE) AS v1y, "
            "CAST(CAST(s2y AS VARCHAR) AS DOUBLE) AS v2y, "
            "CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS vyy FROM st), "
            "sol AS (SELECT prio, n, nd, v1, v2, vy, v1y, v2y, vyy, "
            "nd * (v11 * v22 - v12 * v12) - v1 * (v1 * v22 - v12 * v2) "
            "+ v2 * (v1 * v12 - v11 * v2) AS det, "
            "vy * (v11 * v22 - v12 * v12) - v1 * (v1y * v22 - v12 * v2y) "
            "+ v2 * (v1y * v12 - v11 * v2y) AS det0, "
            "nd * (v1y * v22 - v12 * v2y) - vy * (v1 * v22 - v12 * v2) "
            "+ v2 * (v1 * v2y - v1y * v2) AS det1, "
            "nd * (v11 * v2y - v1y * v12) - v1 * (v1 * v2y - v1y * v2) "
            "+ vy * (v1 * v12 - v11 * v2) AS det2 FROM dd), "
            "fin AS (SELECT prio, n, det, "
            "vyy - ((det0 / det) * vy + (det1 / det) * v1y "
            "+ (det2 / det) * v2y) AS sse, "
            "vyy - vy * vy / nd AS sst, "
            "det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 "
            "FROM sol) "
            # floor(x*1e6 + 0.5)/1e6 mirrors the engine's portable
            # 6dp rounding: identical IEEE double ops on both sides
            # (built-in round() disagrees at beta0's ~1e10 magnitude)
            "SELECT prio, CAST(n AS BIGINT) AS n, "
            "CASE WHEN det <> 0 AND sst <> 0 THEN "
            "floor(b0 * 1e6 + 0.5) / 1e6 END AS beta0, "
            "CASE WHEN det <> 0 AND sst <> 0 THEN "
            "floor(b1 * 1e6 + 0.5) / 1e6 END AS beta1, "
            "CASE WHEN det <> 0 AND sst <> 0 THEN "
            "floor(b2 * 1e6 + 0.5) / 1e6 END AS beta2, "
            "CASE WHEN det <> 0 AND sst <> 0 THEN "
            "floor((1.0 - sse / sst) * 1e6 + 0.5) / 1e6 END AS r2 "
            "FROM fin"
        ),
        "weekly_seasonality": (
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT) AS cents FROM orders GROUP BY 1), "
            "pp AS (SELECT ((day - DATE '1970-01-01') % 7) AS p, "
            "count(*) AS n_p, "
            "sum(CAST(cents AS DECIMAL(38,0))) AS s_p, "
            "sum(CAST(CAST(cents AS DECIMAL(19,0)) * cents "
            "AS DECIMAL(38,0))) AS ss_p FROM daily GROUP BY 1), "
            "a AS (SELECT sum(n_p) AS n, sum(s_p) AS s, sum(ss_p) AS ss, "
            "list_reduce(list_prepend(0.0, "
            "list(CAST(ss_p AS DOUBLE) - (CAST(s_p AS DOUBLE) "
            "* CAST(s_p AS DOUBLE)) / CAST(n_p AS DOUBLE) ORDER BY p)), "
            "(x, y) -> x + y) AS sse FROM pp) "
            "SELECT CAST(n AS BIGINT) AS n_days, "
            "round(CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) "
            "* CAST(s AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS sst, "
            "round(sse, 6) AS sse, "
            "round(CASE WHEN (CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) "
            "* CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) > 0 THEN "
            "1.0 - sse / (CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) "
            "* CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) END, 6) "
            "AS strength FROM a"
        ),
        # ---- round-8 additions ----
        "cross_cdf_dates": (
            # same cumulative-fraction construction as cross_cdf but on
            # the temporal domain; monthly tail via arg_max on the day
            "WITH a AS (SELECT o_orderdate AS v FROM orders "
            "WHERE o_orderpriority = '1-URGENT' "
            "AND o_orderdate IS NOT NULL), "
            "b AS (SELECT o_orderdate AS v FROM orders "
            "WHERE o_orderpriority = '5-LOW' AND o_orderdate IS NOT NULL), "
            "u AS (SELECT v, count(*) FILTER (WHERE s = 1) AS n1, "
            "count(*) FILTER (WHERE s = 2) AS n2 FROM ("
            "SELECT v, 1 AS s FROM a UNION ALL SELECT v, 2 FROM b) "
            "GROUP BY v), "
            "c AS (SELECT v, "
            "sum(n1) OVER (ORDER BY v) / (SELECT count(*) FROM a) AS c1, "
            "sum(n2) OVER (ORDER BY v) / (SELECT count(*) FROM b) AS c2 "
            "FROM u) "
            "SELECT CAST(date_trunc('month', v) AS DATE) AS month, "
            "arg_max(round(c1, 6), v) AS cdf1, "
            "arg_max(round(c2, 6), v) AS cdf2, "
            "CAST(count(*) AS BIGINT) AS n_days "
            "FROM c GROUP BY 1 ORDER BY 1"
        ),
        "anderson_darling": (
            # tie-aware Scholz-Stephens A2 (k=2): HUGEINT-exact
            # numerators cast once to double, identical expression
            # shape/order as the Spark operator
            "WITH a AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS v FROM events "
            "WHERE event_type = 'click' AND value IS NOT NULL), "
            "b AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS v FROM events "
            "WHERE event_type = 'view' AND value IS NOT NULL), "
            "u AS (SELECT v, count(*) FILTER (WHERE s = 1) AS n1, "
            "count(*) FILTER (WHERE s = 2) AS n2 FROM ("
            "SELECT v, 1 AS s FROM a UNION ALL SELECT v, 2 FROM b) "
            "GROUP BY v), "
            "t AS (SELECT (SELECT count(*) FROM a) AS t1, "
            "(SELECT count(*) FROM b) AS t2), "
            "c AS (SELECT n1, n2, sum(n1) OVER (ORDER BY v) AS c1, "
            "sum(n2) OVER (ORDER BY v) AS c2 FROM u), "
            "terms AS (SELECT n1, n2, c1, c2, t1, t2, "
            "CAST(CAST(t1 + t2 AS HUGEINT) * c1 "
            "- CAST(t1 AS HUGEINT) * (c1 + c2) AS DOUBLE) AS adnum, "
            "CAST(CAST(c1 + c2 AS HUGEINT) "
            "* (t1 + t2 - c1 - c2) AS DOUBLE) AS adden FROM c, t) "
            "SELECT CAST(t1 AS BIGINT) AS n1, CAST(t2 AS BIGINT) AS n2, "
            "round(sum(CASE WHEN c1 + c2 < t1 + t2 THEN "
            "CAST(n1 + n2 AS DOUBLE) / (t1 + t2) "
            "* (adnum * adnum / adden) * (1.0 / t1 + 1.0 / t2) "
            "ELSE 0.0 END), 6) AS ad FROM terms GROUP BY t1, t2"
        ),
        "cramer_von_mises": (
            # tie-weighted CvM T = sum l*(c1*t2 - c2*t1)^2 / (t1*t2*N^2)
            "WITH a AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS v FROM events "
            "WHERE event_type = 'click' AND value IS NOT NULL), "
            "b AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS v FROM events "
            "WHERE event_type = 'purchase' AND value IS NOT NULL), "
            "u AS (SELECT v, count(*) FILTER (WHERE s = 1) AS n1, "
            "count(*) FILTER (WHERE s = 2) AS n2 FROM ("
            "SELECT v, 1 AS s FROM a UNION ALL SELECT v, 2 FROM b) "
            "GROUP BY v), "
            "t AS (SELECT (SELECT count(*) FROM a) AS t1, "
            "(SELECT count(*) FROM b) AS t2), "
            "c AS (SELECT n1, n2, sum(n1) OVER (ORDER BY v) AS c1, "
            "sum(n2) OVER (ORDER BY v) AS c2 FROM u), "
            "terms AS (SELECT n1, n2, t1, t2, "
            "CAST(CAST(c1 AS HUGEINT) * t2 "
            "- CAST(c2 AS HUGEINT) * t1 AS DOUBLE) AS cnum FROM c, t) "
            "SELECT CAST(t1 AS BIGINT) AS n1, CAST(t2 AS BIGINT) AS n2, "
            "round(sum(CAST(n1 + n2 AS DOUBLE) * (cnum * cnum) "
            "/ (CAST(t1 AS DOUBLE) * t2 * (t1 + t2) * (t1 + t2))), 6) "
            "AS cvm FROM terms GROUP BY t1, t2"
        ),
        "zipf_slope": (
            # same (count DESC, token ASC) total order and closed-form
            # OLS sums; ln() is the natural log on both engines
            "WITH toks AS (SELECT unnest(string_split_regex(trim(text), "
            "'\\s+')) AS tok FROM documents WHERE text IS NOT NULL), "
            "per AS (SELECT tok, count(*) AS n FROM toks "
            "WHERE tok <> '' GROUP BY 1 ORDER BY n DESC, tok LIMIT 500), "
            "rk AS (SELECT ln(CAST(row_number() OVER "
            "(ORDER BY n DESC, tok) AS DOUBLE)) AS x, "
            "ln(CAST(n AS DOUBLE)) AS y FROM per), "
            "s AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy, "
            "sum(x * x) AS sxx, sum(x * y) AS sxy FROM rk) "
            "SELECT CAST(k AS BIGINT) AS n_terms, "
            "round(CASE WHEN CAST(k AS DOUBLE) * sxx - sx * sx > 0 THEN "
            "(CAST(k AS DOUBLE) * sxy - sx * sy) "
            "/ (CAST(k AS DOUBLE) * sxx - sx * sx) END, 6) AS slope, "
            "round((sy - (CASE WHEN CAST(k AS DOUBLE) * sxx - sx * sx > 0 "
            "THEN (CAST(k AS DOUBLE) * sxy - sx * sy) "
            "/ (CAST(k AS DOUBLE) * sxx - sx * sx) END) * sx) "
            "/ CAST(k AS DOUBLE), 6) AS intercept FROM s"
        ),
        "contrastive_negatives": (
            # same md5(id#q#j) argmin draw; spec = 5 lowest vec_ids x 4
            "WITH q AS (SELECT vec_id AS query_id, label AS q_label "
            "FROM embeddings ORDER BY vec_id LIMIT 5), "
            "j AS (SELECT CAST(unnest(range(1, 5)) AS INTEGER) AS draw), "
            "cand AS (SELECT s.query_id, s.draw, e.vec_id, e.label, "
            "CAST(CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) "
            "|| '#' || CAST(s.query_id AS VARCHAR) || '#' "
            "|| CAST(s.draw AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) "
            "AS h FROM embeddings e, (SELECT * FROM q, j) s "
            "WHERE e.label <> s.q_label AND e.vec_id <> s.query_id) "
            "SELECT query_id, draw, arg_min(vec_id, h) AS neg_id, "
            "arg_min(label, h) AS neg_label, min(h) AS h "
            "FROM cand GROUP BY query_id, draw ORDER BY query_id, draw"
        ),
        "multimodal_decode_real": (
            # hard-coded truth of the committed fixture bytes
            # (tests/fixtures/images): dimensions/mode from the format
            # specs, md5 of the exact payloads
            "SELECT * FROM (VALUES "
            "('corrupt.bin', CAST(28 AS BIGINT), CAST(NULL AS BIGINT), "
            "CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), "
            "'f234647a718df2509f084d6525787960'), "
            "('gray_5x4.png', 89, 5, 4, 'gray', "
            "'05161c69c881762717ac9357e64f0795'), "
            "('rgb_2x2.ppm', 23, 2, 2, 'rgb', "
            "'f2616e7b4a4c5b4b6faffec7524ab58a'), "
            "('rgb_3x2.png', 85, 3, 2, 'rgb', "
            "'8cd7a7c816a43ea7129f22616a0a5fc8'), "
            "('rgb_4x3.bmp', 90, 4, 3, 'rgb', "
            "'c2b6cd30917af6b8ea99134c8d4bd1ba')) "
            "AS t(name, n_bytes, width, height, mode, payload_md5) "
            "ORDER BY name"
        ),
        "streaming_late_data": (
            # batch equivalent: within-watermark late rows count exactly
            # once, beyond-watermark re-sends are dropped, so the drained
            # state equals the plain GROUP BY over the original events
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "event_type, count(*) AS n_rows FROM events GROUP BY 1, 2"
        ),
        # ---- round-8 post-window additions ----
        "cuped_ab": (
            # HUGEINT-exact sufficient statistics, one double
            # conversion, identical expression shapes/order (nb, sxb,
            # syb derived as n-na etc. in DOUBLE, like the operator)
            "WITH u AS (SELECT user_id, "
            "sum(CASE WHEN date_part('day', ts) <= 15 THEN c ELSE 0 END) "
            "AS x, "
            "sum(CASE WHEN date_part('day', ts) >= 16 THEN c ELSE 0 END) "
            "AS y, CAST(user_id % 2 AS INTEGER) AS variant FROM ("
            "SELECT user_id, ts, CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS c FROM events WHERE value IS NOT NULL) "
            "GROUP BY user_id), "
            "s AS (SELECT count(*) AS cnt, "
            "sum(CAST(x AS HUGEINT)) AS hsx, sum(CAST(y AS HUGEINT)) AS hsy, "
            "sum(CAST(x AS HUGEINT) * x) AS hsxx, "
            "sum(CAST(y AS HUGEINT) * y) AS hsyy, "
            "sum(CAST(x AS HUGEINT) * y) AS hsxy, "
            "count(*) FILTER (variant = 0) AS cna, "
            "sum(CAST(x AS HUGEINT)) FILTER (variant = 0) AS hsxa, "
            "sum(CAST(y AS HUGEINT)) FILTER (variant = 0) AS hsya "
            "FROM u WHERE x IS NOT NULL AND y IS NOT NULL), "
            "d AS (SELECT cnt, cna, CAST(cnt AS DOUBLE) AS n, "
            "CAST(hsx AS DOUBLE) AS sx, CAST(hsy AS DOUBLE) AS sy, "
            "CAST(hsxx AS DOUBLE) AS sxx, CAST(hsyy AS DOUBLE) AS syy, "
            "CAST(hsxy AS DOUBLE) AS sxy, CAST(cna AS DOUBLE) AS na, "
            "CAST(hsxa AS DOUBLE) AS sxa, CAST(hsya AS DOUBLE) AS sya "
            "FROM s), "
            "m AS (SELECT cnt, cna, n, na, n - na AS nb, "
            "n * sxy - sx * sy AS covn, n * sxx - sx * sx AS varxn, "
            "n * syy - sy * sy AS varyn, "
            "sya / na AS mya, (sy - sya) / (n - na) AS myb, "
            "sxa / na AS mxa, (sx - sxa) / (n - na) AS mxb FROM d) "
            "SELECT CAST(cna AS BIGINT) AS n_a, "
            "CAST(cnt - cna AS BIGINT) AS n_b, "
            "round(CASE WHEN cna >= 1 THEN mya END, 6) AS mean_post_a, "
            "round(CASE WHEN nb >= 1 THEN myb END, 6) AS mean_post_b, "
            "round(CASE WHEN cna >= 1 AND nb >= 1 THEN mya - myb END, 6) "
            "AS diff_raw, "
            "round(CASE WHEN cna >= 1 AND nb >= 1 AND varxn > 0 THEN "
            "covn / varxn END, 6) AS theta, "
            "round(CASE WHEN cna >= 1 AND nb >= 1 AND varxn > 0 THEN "
            "(mya - myb) - (covn / varxn) * (mxa - mxb) END, 6) "
            "AS diff_cuped, "
            "round(CASE WHEN cna >= 1 AND nb >= 1 AND varxn > 0 AND "
            "varyn > 0 THEN (covn * covn) / (varxn * varyn) END, 6) "
            "AS rho2 FROM m"
        ),
        "logrank": (
            # same duration/censoring construction as kaplan_meier; at
            # risk via exclusive running counts; O/E/V as ONE plain
            # aggregate of 12dp pre-rounded decimals — mirrors the
            # Spark engine's order-free fold; identical double
            # expression grouping
            "WITH per AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd, "
            "max(CAST(ts AS DATE)) AS ld FROM events GROUP BY 1), "
            "subj AS (SELECT ld - fd AS t, CASE WHEN ld < "
            "(SELECT max(CAST(ts AS DATE)) - 14 FROM events) "
            "THEN 1 ELSE 0 END AS ev, "
            "CAST(user_id % 2 AS INTEGER) AS grp FROM per), "
            "tot AS (SELECT count(*) FILTER (grp = 0) AS t1, "
            "count(*) FILTER (grp = 1) AS t2 FROM subj), "
            "hist AS (SELECT t, "
            "sum(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS d1, "
            "sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS d2, "
            "count(*) FILTER (grp = 0) AS c1, "
            "count(*) FILTER (grp = 1) AS c2 FROM subj GROUP BY 1), "
            "r AS (SELECT t, d1, d2, "
            "t1 - coalesce(sum(c1) OVER (ORDER BY t ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1, "
            "t2 - coalesce(sum(c2) OVER (ORDER BY t ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2 "
            "FROM hist, tot), "
            "terms AS (SELECT t, d1, n1, n2, "
            "CAST(d1 + d2 AS DOUBLE) AS d, "
            "CAST(n1 + n2 AS DOUBLE) AS nn FROM r WHERE d1 + d2 > 0), "
            "agg AS (SELECT sum(d1) AS o1, "
            "sum(CAST(round(d * CAST(n1 AS DOUBLE) / nn, 12) "
            "AS DECIMAL(38,12))) AS e1, "
            "sum(CAST(round(CASE WHEN nn > 1.0 THEN "
            "d * (CAST(n1 AS DOUBLE) / nn) "
            "* (CAST(n2 AS DOUBLE) / nn) * (nn - d) / (nn - 1.0) "
            "ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS vv FROM terms) "
            "SELECT CAST(t1 AS BIGINT) AS n_1, CAST(t2 AS BIGINT) AS n_2, "
            "CAST(o1 AS BIGINT) AS observed_1, "
            "round(CAST(e1 AS DOUBLE), 6) AS expected_1, "
            "round(CASE WHEN CAST(vv AS DOUBLE) > 0 THEN "
            "(CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) "
            "* (CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) "
            "/ CAST(vv AS DOUBLE) END, 6) AS chi2 "
            "FROM agg, tot WHERE o1 IS NOT NULL"
        ),
        "stratified_ab": (
            # identical per-stratum conditional counts / HUGEINT sums,
            # stratum-ORDERED cumulative fold, last row, identical
            # double expression grouping
            "WITH u AS (SELECT user_id, "
            "sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
            "AS spend_c, CAST(user_id % 2 AS INTEGER) AS variant, "
            "CAST(user_id % 5 AS INTEGER) AS stratum FROM events "
            "WHERE value IS NOT NULL GROUP BY user_id), "
            "per AS (SELECT stratum AS s, "
            "count(*) FILTER (variant = 0) AS na, "
            "coalesce(sum(CAST(spend_c AS HUGEINT)) "
            "FILTER (variant = 0), 0) AS sa, "
            "count(*) FILTER (variant = 1) AS nb, "
            "coalesce(sum(CAST(spend_c AS HUGEINT)) "
            "FILTER (variant = 1), 0) AS sb FROM u GROUP BY 1), "
            "cum AS (SELECT s, sum(na) OVER w AS cna, "
            "sum(nb) OVER w AS cnb, sum(sa) OVER w AS sya, "
            "sum(sb) OVER w AS syb, count(*) OVER w AS k, "
            "sum(CASE WHEN na >= 1 AND nb >= 1 THEN "
            "CAST(na + nb AS DOUBLE) * (CAST(sa AS DOUBLE) "
            "/ CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) "
            "/ CAST(nb AS DOUBLE)) ELSE 0.0 END) OVER w AS wsum, "
            "sum(CASE WHEN na >= 1 AND nb >= 1 THEN "
            "CAST(na + nb AS DOUBLE) ELSE 0.0 END) OVER w AS wtot "
            "FROM per WINDOW w AS (ORDER BY s ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW)), "
            "lastrow AS (SELECT * FROM cum ORDER BY s DESC LIMIT 1) "
            "SELECT CAST(cna AS BIGINT) AS n_a, "
            "CAST(cnb AS BIGINT) AS n_b, CAST(k AS BIGINT) AS n_strata, "
            "round(CASE WHEN cna >= 1 AND cnb >= 1 THEN "
            "CAST(sya AS DOUBLE) / CAST(cna AS DOUBLE) "
            "- CAST(syb AS DOUBLE) / CAST(cnb AS DOUBLE) END, 6) "
            "AS diff_raw, "
            "round(CASE WHEN cna >= 1 AND cnb >= 1 AND wtot > 0 THEN "
            "wsum / wtot END, 6) AS diff_stratified FROM lastrow"
        ),
        "grouped_psi": (
            # per-group mirror of the psi_drift oracle: totals window
            # partitioned by the group key, same +0.5 Laplace smoothing
            "WITH j AS (SELECT event_type AS grp, "
            "least(greatest(CAST(floor((value - 0.0) / 50.0) "
            "AS BIGINT), 0), 9) AS bucket, "
            "count(*) FILTER (date_part('day', ts) <= 15) AS n1, "
            "count(*) FILTER (date_part('day', ts) >= 16) AS n2 "
            "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
            "t AS (SELECT grp, n1, n2, "
            "(n1 + 0.5) / (sum(n1) OVER (PARTITION BY grp) + 5.0) AS p, "
            "(n2 + 0.5) / (sum(n2) OVER (PARTITION BY grp) + 5.0) AS q "
            "FROM j) "
            "SELECT grp AS event_type, "
            "CAST(sum(n1) AS BIGINT) AS n_baseline, "
            "CAST(sum(n2) AS BIGINT) AS n_current, "
            "round(sum((p - q) * ln(p / q)), 6) AS psi "
            "FROM t GROUP BY 1 ORDER BY 1"
        ),
        "jarque_bera": (
            # HUGEINT-exact SHIFTED power sums (global integer mean
            # shift, mirroring the round-9 operator: central moments
            # are shift-invariant and raw sums cancel catastrophically
            # in doubles at cents scale) -> one double conversion ->
            # the identical closed-form expressions (and v*sqrt(v),
            # never pow(v,1.5): libm pow is not correctly rounded and
            # diverges between engines in the last ulp)
            "WITH b AS (SELECT event_type, "
            "CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS HUGEINT) AS c FROM events WHERE value IS NOT NULL), "
            "sh AS (SELECT sum(c) // count(*) AS c0 FROM b), "
            "bs AS (SELECT event_type, c - c0 AS c, c0 FROM b, sh), "
            "s AS (SELECT event_type, count(*) AS cnt, sum(c) AS s1, "
            "sum(c * c) AS s2, sum(c * c * c) AS s3, "
            "sum(c * c * c * c) AS s4, max(c0) AS c0 "
            "FROM bs GROUP BY 1), "
            "d AS (SELECT event_type, cnt, c0, "
            "CAST(cnt AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, "
            "CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3, "
            "CAST(s4 AS DOUBLE) AS s4 FROM s), "
            "m AS (SELECT event_type, cnt, c0, n, s1, "
            "n * s2 - s1 * s1 AS m2n2, "
            "n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1 AS m3n3, "
            "n * n * n * s4 - 4.0 * n * n * s1 * s3 "
            "+ 6.0 * n * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1 AS m4n4, "
            "(n * s2 - s1 * s1) / (n * n) AS v FROM d), "
            "g AS (SELECT event_type, cnt, c0, n, s1, "
            "CASE WHEN cnt >= 2 AND m2n2 > 0 THEN "
            "(m3n3 / (n * n * n)) / (v * sqrt(v)) END AS g1, "
            "CASE WHEN cnt >= 2 AND m2n2 > 0 THEN "
            "(m4n4 / (n * n * n * n)) / (v * v) END AS g2 FROM m) "
            "SELECT event_type, CAST(cnt AS BIGINT) AS n, "
            "round(CAST(c0 AS DOUBLE) + s1 / n, 6) AS mean, "
            "round(g1, 6) AS skewness, "
            "round(g2, 6) AS kurtosis, "
            "round(n / 6.0 * (g1 * g1 + (g2 - 3.0) * (g2 - 3.0) / 4.0), 6) "
            "AS jb FROM g ORDER BY event_type"
        ),
        "two_proportion_ztest": (
            "WITH c AS (SELECT "
            "count(*) FILTER (date_part('day', ts) <= 15) AS n_a, "
            "count(*) FILTER (date_part('day', ts) <= 15 "
            "AND event_type = 'purchase') AS s_a, "
            "count(*) FILTER (date_part('day', ts) >= 16) AS n_b, "
            "count(*) FILTER (date_part('day', ts) >= 16 "
            "AND event_type = 'purchase') AS s_b FROM events), "
            "d AS (SELECT n_a, s_a, n_b, s_b, "
            "CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, "
            "CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb, "
            "(CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) "
            "/ (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled "
            "FROM c) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, "
            "CAST(s_a AS BIGINT) AS successes_a, "
            "round(CASE WHEN n_a > 0 THEN sa / na END, 6) AS rate_a, "
            "CAST(n_b AS BIGINT) AS n_b, "
            "CAST(s_b AS BIGINT) AS successes_b, "
            "round(CASE WHEN n_b > 0 THEN sb / nb END, 6) AS rate_b, "
            "round(CASE WHEN n_a > 0 AND n_b > 0 AND "
            "pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb) > 0 THEN "
            "(sa / na - sb / nb) / sqrt(pooled * (1.0 - pooled) "
            "* (1.0 / na + 1.0 / nb)) END, 6) AS z FROM d"
        ),
        "streaming_ab_ztest": (
            # drained complete-mode state == batch counts (associative),
            # so the oracle IS the batch two-proportion SQL

            "WITH c AS (SELECT "
            "count(*) FILTER (date_part('day', ts) <= 15) AS n_a, "
            "count(*) FILTER (date_part('day', ts) <= 15 "
            "AND event_type = 'purchase') AS s_a, "
            "count(*) FILTER (date_part('day', ts) >= 16) AS n_b, "
            "count(*) FILTER (date_part('day', ts) >= 16 "
            "AND event_type = 'purchase') AS s_b FROM events), "
            "d AS (SELECT n_a, s_a, n_b, s_b, "
            "CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, "
            "CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb, "
            "(CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) "
            "/ (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled "
            "FROM c) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, "
            "CAST(s_a AS BIGINT) AS successes_a, "
            "round(CASE WHEN n_a > 0 THEN sa / na END, 6) AS rate_a, "
            "CAST(n_b AS BIGINT) AS n_b, "
            "CAST(s_b AS BIGINT) AS successes_b, "
            "round(CASE WHEN n_b > 0 THEN sb / nb END, 6) AS rate_b, "
            "round(CASE WHEN n_a > 0 AND n_b > 0 AND "
            "pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb) > 0 THEN "
            "(sa / na - sb / nb) / sqrt(pooled * (1.0 - pooled) "
            "* (1.0 / na + 1.0 / nb)) END, 6) AS z FROM d"
        ),
        "kendall_tau": (
            # identical exact-integer pair/tie counts and the identical
            # double expression (den = sqrt((2n0-tx2)(2n0-ty2))/2)
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "count(*) AS n_orders, "
            "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS BIGINT) AS rev_c FROM orders "
            "WHERE date_part('year', o_orderdate) = 1995 GROUP BY 1), "
            "p AS (SELECT "
            "sum(CASE WHEN sign(b.n_orders - a.n_orders) "
            "* sign(b.rev_c - a.rev_c) > 0 THEN 1 ELSE 0 END) AS c, "
            "sum(CASE WHEN sign(b.n_orders - a.n_orders) "
            "* sign(b.rev_c - a.rev_c) < 0 THEN 1 ELSE 0 END) AS d "
            "FROM daily a JOIN daily b ON a.day < b.day), "
            "tx AS (SELECT coalesce(sum(t * (t - 1)), 0) AS tx2 FROM "
            "(SELECT count(*) AS t FROM daily GROUP BY n_orders)), "
            "ty AS (SELECT coalesce(sum(t * (t - 1)), 0) AS ty2 FROM "
            "(SELECT count(*) AS t FROM daily GROUP BY rev_c)), "
            "nn AS (SELECT count(*) AS n FROM daily) "
            "SELECT CAST(n AS BIGINT) AS n_days, "
            "CAST(coalesce(c, 0) AS BIGINT) AS concordant, "
            "CAST(coalesce(d, 0) AS BIGINT) AS discordant, "
            "CASE WHEN sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) "
            "- CAST(tx2 AS DOUBLE)) * (CAST(n AS DOUBLE) "
            "* (CAST(n AS DOUBLE) - 1.0) - CAST(ty2 AS DOUBLE))) / 2.0 > 0 "
            "THEN CAST(coalesce(c, 0) - coalesce(d, 0) AS DOUBLE) "
            "/ (sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) "
            "- CAST(tx2 AS DOUBLE)) * (CAST(n AS DOUBLE) "
            "* (CAST(n AS DOUBLE) - 1.0) - CAST(ty2 AS DOUBLE))) / 2.0) "
            "END AS tau_b FROM p, tx, ty, nn"
        ),
        # -- round-9 additions --
        "ratio_ab_ztest": (
            # delta-method ratio z: HUGEINT-exact sufficient statistics
            # and (co)variance numerators, identical double expression
            "WITH u AS (SELECT user_id, "
            "count(*) FILTER (event_type = 'purchase') AS num, "
            "count(*) AS den, CAST(user_id % 2 AS INT) AS v "
            "FROM events GROUP BY user_id), "
            "s AS (SELECT "
            "count(*) FILTER (v = 0) AS n_a, "
            "CAST(coalesce(sum(num) FILTER (v = 0), 0) AS HUGEINT) AS sn_a, "
            "CAST(coalesce(sum(den) FILTER (v = 0), 0) AS HUGEINT) AS sd_a, "
            "CAST(coalesce(sum(num * num) FILTER (v = 0), 0) AS HUGEINT) AS snn_a, "
            "CAST(coalesce(sum(den * den) FILTER (v = 0), 0) AS HUGEINT) AS sdd_a, "
            "CAST(coalesce(sum(num * den) FILTER (v = 0), 0) AS HUGEINT) AS snd_a, "
            "count(*) FILTER (v = 1) AS n_b, "
            "CAST(coalesce(sum(num) FILTER (v = 1), 0) AS HUGEINT) AS sn_b, "
            "CAST(coalesce(sum(den) FILTER (v = 1), 0) AS HUGEINT) AS sd_b, "
            "CAST(coalesce(sum(num * num) FILTER (v = 1), 0) AS HUGEINT) AS snn_b, "
            "CAST(coalesce(sum(den * den) FILTER (v = 1), 0) AS HUGEINT) AS sdd_b, "
            "CAST(coalesce(sum(num * den) FILTER (v = 1), 0) AS HUGEINT) AS snd_b "
            "FROM u), "
            "d AS (SELECT n_a, n_b, sd_a, sd_b, "
            "CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb, "
            "CAST(n_a * snn_a - sn_a * sn_a AS DOUBLE) "
            "/ (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS vn_a, "
            "CAST(n_a * sdd_a - sd_a * sd_a AS DOUBLE) "
            "/ (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS vd_a, "
            "CAST(n_a * snd_a - sn_a * sd_a AS DOUBLE) "
            "/ (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS cv_a, "
            "CAST(n_b * snn_b - sn_b * sn_b AS DOUBLE) "
            "/ (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vn_b, "
            "CAST(n_b * sdd_b - sd_b * sd_b AS DOUBLE) "
            "/ (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vd_b, "
            "CAST(n_b * snd_b - sn_b * sd_b AS DOUBLE) "
            "/ (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS cv_b, "
            "CAST(sn_a AS DOUBLE) / CAST(sd_a AS DOUBLE) AS r_a, "
            "CAST(sn_b AS DOUBLE) / CAST(sd_b AS DOUBLE) AS r_b, "
            "CAST(sd_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS db_a, "
            "CAST(sd_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS db_b FROM s), "
            "v AS (SELECT *, "
            "(vn_a - 2.0 * r_a * cv_a + r_a * r_a * vd_a) "
            "/ (na * db_a * db_a) AS v_a, "
            "(vn_b - 2.0 * r_b * cv_b + r_b * r_b * vd_b) "
            "/ (nb * db_b * db_b) AS v_b FROM d) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, "
            "round(CASE WHEN sd_a <> 0 THEN r_a END, 6) AS ratio_a, "
            "round(CASE WHEN sd_b <> 0 THEN r_b END, 6) AS ratio_b, "
            "round(CASE WHEN sd_a <> 0 AND sd_b <> 0 THEN r_a - r_b END, 6) "
            "AS diff, "
            "round(CASE WHEN n_a >= 2 AND n_b >= 2 AND sd_a <> 0 "
            "AND sd_b <> 0 AND v_a + v_b > 0 THEN "
            "(r_a - r_b) / sqrt(v_a + v_b) END, 6) AS z FROM v"
        ),
        "sample_ratio_mismatch": (
            # same level-ORDERED cumulative chi-square fold
            "WITH c AS (SELECT CASE WHEN user_id % 10 < 5 THEN 'a' "
            "WHEN user_id % 10 < 8 THEN 'b' ELSE 'c' END AS lv, "
            "count(*) AS o FROM events GROUP BY 1), "
            "t AS (SELECT lv, o, CAST(sum(o) OVER () AS DOUBLE) AS n FROM c), "
            "u AS (SELECT lv, o, n, n * (CASE lv WHEN 'a' THEN CAST(0.5 AS DOUBLE) "
            "WHEN 'b' THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.2 AS DOUBLE) END) AS e FROM t), "
            "cum AS (SELECT lv, sum(o) OVER w AS cn, count(*) OVER w AS ck, "
            "sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) OVER w AS chi2 FROM u "
            "WINDOW w AS (ORDER BY lv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
            "SELECT CAST(cn AS BIGINT) AS n, CAST(ck AS BIGINT) AS n_levels, "
            "round(chi2, 6) AS chi2 FROM cum ORDER BY lv DESC LIMIT 1"
        ),
        "streaming_srm": (
            # drained complete-mode per-level counts == batch GROUP BY
            # (associative), so the oracle IS the batch SRM SQL
            "WITH c AS (SELECT CASE WHEN user_id % 10 < 5 THEN 'a' "
            "WHEN user_id % 10 < 8 THEN 'b' ELSE 'c' END AS lv, "
            "count(*) AS o FROM events GROUP BY 1), "
            "t AS (SELECT lv, o, CAST(sum(o) OVER () AS DOUBLE) AS n FROM c), "
            "u AS (SELECT lv, o, n, n * (CASE lv WHEN 'a' THEN CAST(0.5 AS DOUBLE) "
            "WHEN 'b' THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.2 AS DOUBLE) END) AS e FROM t), "
            "cum AS (SELECT lv, sum(o) OVER w AS cn, count(*) OVER w AS ck, "
            "sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) OVER w AS chi2 FROM u "
            "WINDOW w AS (ORDER BY lv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
            "SELECT CAST(cn AS BIGINT) AS n, CAST(ck AS BIGINT) AS n_levels, "
            "round(chi2, 6) AS chi2 FROM cum ORDER BY lv DESC LIMIT 1"
        ),
        "pettitt_changepoint": (
            # mid-ranks -> integer-exact U_t -> earliest-argmax day; the
            # identical p approximation, one double conversion
            "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "count(*) AS x FROM orders "
            "WHERE date_part('year', o_orderdate) = 1995 GROUP BY 1), "
            "r AS (SELECT day, "
            "2 * CAST(rank() OVER (ORDER BY x) AS HUGEINT) "
            "+ count(*) OVER (PARTITION BY x) - 1 AS tr FROM d), "
            "c AS (SELECT day, count(*) OVER () AS n, "
            "sum(tr) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW) "
            "- CAST(row_number() OVER (ORDER BY day) AS HUGEINT) "
            "* (count(*) OVER () + 1) AS u FROM r) "
            "SELECT CAST(n AS BIGINT) AS n_days, "
            "CAST(abs(u) AS DOUBLE) AS k_stat, day AS change_day, "
            "round(CASE WHEN n >= 2 THEN least(1.0, 2.0 * "
            "exp(-6.0 * CAST(abs(u) AS DOUBLE) * CAST(abs(u) AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) "
            "+ CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) END, 6) AS p_value "
            "FROM c ORDER BY abs(u) DESC, day ASC LIMIT 1"
        ),
        "dispersion_index": (
            # HUGEINT-exact variance numerator, identical double chain
            "WITH pu AS (SELECT event_type, user_id, count(*) AS x "
            "FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), "
            "s AS (SELECT event_type, count(*) AS n, "
            "CAST(sum(x) AS HUGEINT) AS s1, "
            "CAST(sum(x * x) AS HUGEINT) AS s2 FROM pu GROUP BY 1) "
            "SELECT event_type, CAST(n AS BIGINT) AS n, "
            "round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean, "
            "round(CASE WHEN n >= 2 THEN "
            "CAST(n * s2 - s1 * s1 AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END, 6) "
            "AS variance, "
            "round(CASE WHEN n >= 2 AND s1 <> 0 THEN "
            "(CAST(n * s2 - s1 * s1 AS DOUBLE) "
            "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) "
            "/ (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) "
            "AS dispersion FROM s ORDER BY event_type"
        ),
        "did_ab": (
            # HUGEINT-exact delta sufficient statistics, one double
            # conversion, identical expression order
            "WITH u AS (SELECT user_id, "
            "sum(CASE WHEN date_part('day', ts) <= 15 THEN c ELSE 0 END) "
            "AS pre, "
            "sum(CASE WHEN date_part('day', ts) >= 16 THEN c ELSE 0 END) "
            "AS post, CAST(user_id % 2 AS INTEGER) AS v FROM ("
            "SELECT user_id, ts, CAST(CAST(value AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) AS c FROM events WHERE value IS NOT NULL) "
            "GROUP BY user_id), "
            "s AS (SELECT "
            "count(*) FILTER (v = 0) AS n_a, "
            "CAST(coalesce(sum(pre) FILTER (v = 0), 0) AS HUGEINT) AS sp_a, "
            "CAST(coalesce(sum(post) FILTER (v = 0), 0) AS HUGEINT) AS sq_a, "
            "CAST(coalesce(sum(post - pre) FILTER (v = 0), 0) AS HUGEINT) "
            "AS sd_a, "
            "CAST(coalesce(sum(CAST(post - pre AS HUGEINT) * (post - pre)) "
            "FILTER (v = 0), 0) AS HUGEINT) AS sdd_a, "
            "count(*) FILTER (v = 1) AS n_b, "
            "CAST(coalesce(sum(pre) FILTER (v = 1), 0) AS HUGEINT) AS sp_b, "
            "CAST(coalesce(sum(post) FILTER (v = 1), 0) AS HUGEINT) AS sq_b, "
            "CAST(coalesce(sum(post - pre) FILTER (v = 1), 0) AS HUGEINT) "
            "AS sd_b, "
            "CAST(coalesce(sum(CAST(post - pre AS HUGEINT) * (post - pre)) "
            "FILTER (v = 1), 0) AS HUGEINT) AS sdd_b FROM u), "
            "d AS (SELECT n_a, n_b, "
            "CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb, "
            "CAST(sp_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pre_a, "
            "CAST(sq_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS post_a, "
            "CAST(sd_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS d_a, "
            "CAST(sp_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pre_b, "
            "CAST(sq_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS post_b, "
            "CAST(sd_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS d_b, "
            "CAST(n_a * sdd_a - sd_a * sd_a AS DOUBLE) "
            "/ (CASE WHEN n_a >= 2 THEN CAST(n_a AS DOUBLE) "
            "* (CAST(n_a AS DOUBLE) - 1.0) END) AS var_a, "
            "CAST(n_b * sdd_b - sd_b * sd_b AS DOUBLE) "
            "/ (CASE WHEN n_b >= 2 THEN CAST(n_b AS DOUBLE) "
            "* (CAST(n_b AS DOUBLE) - 1.0) END) AS var_b FROM s), "
            "e AS (SELECT *, d_a - d_b AS did, "
            "CASE WHEN var_a / na + var_b / nb > 0 THEN "
            "sqrt(var_a / na + var_b / nb) END AS se FROM d) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, "
            "round(CASE WHEN n_a > 0 THEN pre_a END, 6) AS mean_pre_a, "
            "round(CASE WHEN n_a > 0 THEN post_a END, 6) AS mean_post_a, "
            "round(CASE WHEN n_b > 0 THEN pre_b END, 6) AS mean_pre_b, "
            "round(CASE WHEN n_b > 0 THEN post_b END, 6) AS mean_post_b, "
            "round(CASE WHEN n_a > 0 AND n_b > 0 THEN did END, 6) AS did, "
            "round(se, 6) AS se, "
            "round(CASE WHEN se IS NOT NULL THEN did / se END, 6) AS z "
            "FROM e"
        ),
        "embedding_centroid_shift": (
            # same 6dp-component DECIMAL sums, one double division, and
            # the identical component-ORDERED squared-diff fold
            "WITH parts AS (SELECT 'l' || CAST(label AS VARCHAR) AS grp, "
            "CAST(generate_subscripts(embedding, 1) AS INT) AS component, "
            "CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) "
            "AS DECIMAL(18,6)) AS xd "
            "FROM embeddings WHERE embedding IS NOT NULL), "
            "per AS (SELECT grp, component, count(*) AS n, sum(xd) AS s "
            "FROM parts GROUP BY 1, 2), "
            "m AS (SELECT grp, component, n, "
            "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM per), "
            "pair AS (SELECT a.grp AS grp_a, b.grp AS grp_b, a.component, "
            "a.n AS n_a, b.n AS n_b, "
            "(a.mean - b.mean) * (a.mean - b.mean) AS term FROM m a "
            "JOIN m b ON a.component = b.component AND a.grp < b.grp), "
            "cum AS (SELECT grp_a, grp_b, n_a, n_b, "
            "sum(term) OVER (PARTITION BY grp_a, grp_b ORDER BY component "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmd2, "
            "row_number() OVER (PARTITION BY grp_a, grp_b "
            "ORDER BY component DESC) AS rn FROM pair) "
            "SELECT grp_a, grp_b, CAST(n_a AS BIGINT) AS n_a, "
            "CAST(n_b AS BIGINT) AS n_b, round(mmd2, 6) AS mmd2, "
            "round(sqrt(mmd2), 6) AS dist FROM cum WHERE rn = 1 "
            "ORDER BY grp_a, grp_b"
        ),
        "join_explosion_audit": (
            # same per-key count digests; HUGEINT products; identical
            # top-5 rendering (product DESC, key ASC)
            "WITH lc AS (SELECT l_partkey AS k, count(*) AS nl "
            "FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1), "
            "rc AS (SELECT l_partkey AS k, count(*) AS nr "
            "FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1), "
            "m AS (SELECT lc.k, CAST(nl AS HUGEINT) * nr AS prod, "
            "nl > 1 AND nr > 1 AS fan FROM lc JOIN rc ON lc.k = rc.k), "
            "top AS (SELECT string_agg(k || '=' || CAST(prod AS VARCHAR), "
            "', ' ORDER BY prod DESC, k ASC) AS s FROM ("
            "SELECT k, prod FROM m ORDER BY prod DESC, k ASC LIMIT 5)) "
            "SELECT CAST(count(*) AS BIGINT) AS n_keys, "
            "CAST(sum(prod) AS VARCHAR) AS output_rows, "
            "CAST(max(prod) AS VARCHAR) AS max_fanout, "
            "CAST(count(*) FILTER (fan) AS BIGINT) AS n_fanout_keys, "
            "(SELECT s FROM top) AS top_keys FROM m"
        ),
        "welch_ttest": (
            # HUGEINT sufficient stats; two-step ta=(var)/n division
            # order mirrors the operator exactly
            "WITH u AS (SELECT user_id, count(*) AS x FROM events "
            "GROUP BY user_id), "
            "c AS (SELECT "
            "count(*) FILTER (user_id % 2 = 0) AS n_a, "
            "sum(CASE WHEN user_id % 2 = 0 THEN CAST(x AS HUGEINT) "
            "ELSE 0 END) AS s_a, "
            "sum(CASE WHEN user_id % 2 = 0 THEN CAST(x AS HUGEINT) "
            "* CAST(x AS HUGEINT) ELSE 0 END) AS q_a, "
            "count(*) FILTER (user_id % 2 <> 0) AS n_b, "
            "sum(CASE WHEN user_id % 2 <> 0 THEN CAST(x AS HUGEINT) "
            "ELSE 0 END) AS s_b, "
            "sum(CASE WHEN user_id % 2 <> 0 THEN CAST(x AS HUGEINT) "
            "* CAST(x AS HUGEINT) ELSE 0 END) AS q_b FROM u), "
            "d AS (SELECT n_a, n_b, "
            "CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd, "
            "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a, "
            "CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b, "
            "CAST(CAST(n_a AS HUGEINT) * q_a - s_a * s_a AS DOUBLE) "
            "/ (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) "
            "/ CAST(n_a AS DOUBLE) AS ta, "
            "CAST(CAST(n_b AS HUGEINT) * q_b - s_b * s_b AS DOUBLE) "
            "/ (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) "
            "/ CAST(n_b AS DOUBLE) AS tb FROM c), "
            "e AS (SELECT *, ta + tb AS se2, mean_a - mean_b AS diff "
            "FROM d) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, "
            "CAST(n_b AS BIGINT) AS n_b, "
            "round(CASE WHEN n_a > 0 THEN mean_a END, 6) AS mean_a, "
            "round(CASE WHEN n_b > 0 THEN mean_b END, 6) AS mean_b, "
            "round(CASE WHEN n_a > 0 AND n_b > 0 THEN diff END, 6) "
            "AS diff, "
            "round(CASE WHEN se2 > 0 THEN sqrt(se2) END, 6) AS se, "
            "round(CASE WHEN se2 > 0 THEN diff / sqrt(se2) END, 6) AS t, "
            "round(CASE WHEN se2 > 0 THEN se2 * se2 / "
            "(ta * ta / (nad - 1.0) + tb * tb / (nbd - 1.0)) END, 6) "
            "AS df FROM e"
        ),
        "brown_forsythe": (
            # 2x-scaled deviations stay HUGEINT-exact; the k-row fold
            # is the same group-ORDERED cumulative window
            "WITH c AS (SELECT o_orderpriority AS g, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS x "
            "FROM orders), "
            "m AS (SELECT g, quantile_cont(x, 0.5) * 2 AS med2 "
            "FROM c GROUP BY g), "
            "z AS (SELECT c.g, abs(CAST(c.x AS HUGEINT) * 2 "
            "- CAST(round(m.med2) AS HUGEINT)) AS z2 "
            "FROM c JOIN m ON c.g = m.g), "
            "pg AS (SELECT g, count(*) AS n, sum(z2) AS s, "
            "sum(z2 * z2) AS q FROM z GROUP BY g), "
            "cum AS (SELECT g, sum(n) OVER w AS cn, "
            "count(*) OVER w AS ck, sum(s) OVER w AS cs, "
            "sum(q) OVER w AS cq, "
            "sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
            "/ CAST(n AS DOUBLE)) OVER w AS cssb FROM pg "
            "WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW)), "
            "last AS (SELECT * FROM cum ORDER BY g DESC LIMIT 1) "
            "SELECT CAST(cn AS BIGINT) AS n, "
            "CAST(ck AS BIGINT) AS n_groups, "
            "CAST(ck - 1 AS BIGINT) AS df1, "
            "CAST(cn - ck AS BIGINT) AS df2, "
            "round(CASE WHEN ck >= 2 "
            "AND CAST(cn AS DOUBLE) > CAST(ck AS DOUBLE) "
            "AND CAST(cq AS DOUBLE) - cssb > 0 THEN "
            "((cssb - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) "
            "/ CAST(cn AS DOUBLE)) / (CAST(ck AS DOUBLE) - 1.0)) "
            "/ ((CAST(cq AS DOUBLE) - cssb) "
            "/ (CAST(cn AS DOUBLE) - CAST(ck AS DOUBLE))) END, 6) "
            "AS f_stat FROM last"
        ),
        "cmh_test": (
            # DuckDB dayofweek is 0=Sunday; Spark is 1=Sunday
            "WITH per AS (SELECT dayofweek(ts) + 1 AS s, "
            "count(*) FILTER (user_id % 2 = 0 "
            "AND event_type = 'purchase') AS a, "
            "count(*) FILTER (user_id % 2 = 0) AS n1, "
            "count(*) FILTER (event_type = 'purchase') AS m1, "
            "count(*) AS t FROM events GROUP BY 1), "
            "d AS (SELECT s, t, a, CAST(a AS DOUBLE) AS ad, "
            "CAST(n1 AS DOUBLE) AS n1d, CAST(m1 AS DOUBLE) AS m1d, "
            "CAST(t AS DOUBLE) AS td FROM per), "
            "cum AS (SELECT s, sum(t) OVER w AS cn, "
            "count(*) OVER w AS ck, sum(a) OVER w AS ca, "
            "sum(n1d * m1d / td) OVER w AS ce, "
            "sum(CASE WHEN t > 1 THEN n1d * (td - n1d) * m1d "
            "* (td - m1d) / (td * td * (td - 1.0)) ELSE 0.0 END) "
            "OVER w AS cv, "
            "sum(ad * (td - n1d - m1d + ad) / td) OVER w AS cor_num, "
            "sum((n1d - ad) * (m1d - ad) / td) OVER w AS cor_den "
            "FROM d WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)), "
            "last AS (SELECT * FROM cum ORDER BY s DESC LIMIT 1) "
            "SELECT CAST(cn AS BIGINT) AS n, "
            "CAST(ck AS BIGINT) AS n_strata, "
            "CAST(ca AS BIGINT) AS exposed_outcome, "
            "round(CASE WHEN cv > 0 THEN (CAST(ca AS DOUBLE) - ce) "
            "* (CAST(ca AS DOUBLE) - ce) / cv END, 6) AS chi2, "
            "round(CASE WHEN cor_den > 0 THEN cor_num / cor_den END, 6) "
            "AS or_mh FROM last"
        ),
        "grouped_ztest_bh": (
            # identical A&S 7.1.26 erfc polynomial; BH suffix-min over
            # the p-ascending ranking (group tiebreak)
            "WITH per AS (SELECT hour(ts) AS g, "
            "count(*) FILTER (user_id % 2 = 0) AS n_a, "
            "count(*) FILTER (user_id % 2 = 0 "
            "AND event_type = 'purchase') AS s_a, "
            "count(*) FILTER (user_id % 2 = 1) AS n_b, "
            "count(*) FILTER (user_id % 2 = 1 "
            "AND event_type = 'purchase') AS s_b "
            "FROM events GROUP BY 1), "
            "t1 AS (SELECT g, n_a, n_b, "
            "CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, "
            "CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb "
            "FROM per WHERE n_a > 0 AND n_b > 0 AND s_a + s_b > 0 "
            "AND s_a + s_b < n_a + n_b), "
            "t2 AS (SELECT g, n_a, n_b, "
            "(sa / na - sb / nb) / sqrt((sa + sb) / (na + nb) "
            "* (1.0 - (sa + sb) / (na + nb)) "
            "* (1.0 / na + 1.0 / nb)) AS z FROM t1), "
            "t3 AS (SELECT g, n_a, n_b, z, "
            "abs(z) / sqrt(2.0) AS u, "
            "1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt "
            "FROM t2), "
            "t4 AS (SELECT g, n_a, n_b, z, "
            "tt * (0.254829592 + tt * (-0.284496736 + tt "
            "* (1.421413741 + tt * (-1.453152027 + tt "
            "* 1.061405429)))) * exp(-u * u) AS p FROM t3), "
            "r AS (SELECT *, count(*) OVER () AS m, "
            "row_number() OVER (ORDER BY p, g) AS rk FROM t4), "
            "q AS (SELECT *, least(min(p * CAST(m AS DOUBLE) "
            "/ CAST(rk AS DOUBLE)) OVER (ORDER BY rk DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) "
            "AS qv FROM r) "
            "SELECT CAST(g AS INT) AS hr, n_a, n_b, round(z, 6) AS z, "
            "round(p, 6) AS p_value, round(qv, 6) AS q_value "
            "FROM q ORDER BY hr"
        ),
        "nelson_aalen": (
            # same subject frame as kaplan_meier; cumulative-hazard
            # sums sequential in duration order
            "WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd, "
            "max(CAST(ts AS DATE)) AS ld FROM events GROUP BY user_id), "
            "h AS (SELECT max(CAST(ts AS DATE)) - 14 AS hz FROM events), "
            "subj AS (SELECT (ld - fd) AS dur, CASE WHEN ld < "
            "(SELECT hz FROM h) THEN 1 ELSE 0 END AS ev FROM pu), "
            "per_t AS (SELECT dur AS duration, sum(ev) AS n_events, "
            "count(*) AS n_at FROM subj GROUP BY dur), "
            "tot AS (SELECT sum(n_at) AS t FROM per_t), "
            "cum AS (SELECT duration, n_events, n_at - n_events AS "
            "n_censored, (SELECT t FROM tot) - sum(n_at) OVER "
            "(ORDER BY duration) + n_at AS n_risk FROM per_t) "
            "SELECT CAST(duration AS INT) AS duration, "
            "CAST(n_risk AS BIGINT) AS n_risk, "
            "CAST(n_events AS BIGINT) AS n_events, "
            "CAST(n_censored AS BIGINT) AS n_censored, "
            # hazard terms accumulate as 12dp pre-rounded DECIMAL — the
            # Spark engine's order-free bucketed decimal fold, mirrored
            "round(CAST(sum(CAST(round(CAST(n_events AS DOUBLE) "
            "/ CAST(n_risk AS DOUBLE), 12) AS DECIMAL(38,12))) "
            "OVER (ORDER BY duration) AS DOUBLE), 6) AS cumhaz, "
            "round(CAST(sum(CAST(round(CAST(n_events AS DOUBLE) "
            "/ (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)), 12) "
            "AS DECIMAL(38,12))) "
            "OVER (ORDER BY duration) AS DOUBLE), 6) AS var_cumhaz FROM cum"
        ),
        "durbin_watson": (
            # HUGEINT OLS sufficient stats; residual folds t-ORDERED
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
            "sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents "
            "FROM orders WHERE date_part('year', o_orderdate) = 1995 "
            "GROUP BY 1), "
            "b AS (SELECT CAST(day - DATE '1995-01-01' AS HUGEINT) "
            "AS t, cents AS y FROM daily), "
            "suff AS (SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy, "
            "sum(t * y) AS sty, sum(t * t) AS stt FROM b), "
            "ols AS (SELECT n, st, sy, CASE WHEN n >= 3 AND "
            "CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE) <> 0 "
            "THEN CAST(CAST(n AS HUGEINT) * sty - st * sy AS DOUBLE) "
            "/ CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE) END "
            "AS b1 FROM suff), "
            "ols2 AS (SELECT n, b1, (CAST(sy AS DOUBLE) "
            "- b1 * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS b0 "
            "FROM ols), "
            "resid AS (SELECT t, CAST(y AS DOUBLE) "
            "- (b0 + b1 * CAST(t AS DOUBLE)) AS e FROM b, ols2), "
            "lagd AS (SELECT t, e, lag(e) OVER (ORDER BY t) AS le "
            "FROM resid), "
            "cum AS (SELECT t, sum(CASE WHEN le IS NOT NULL THEN "
            "(e - le) * (e - le) ELSE 0.0 END) OVER w AS cnum, "
            "sum(e * e) OVER w AS cden FROM lagd "
            "WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW)) "
            "SELECT (SELECT CAST(n AS BIGINT) FROM suff) AS n, "
            "round((SELECT b1 FROM ols2), 6) AS slope, "
            "round((SELECT b0 FROM ols2), 6) AS intercept, "
            "round(CASE WHEN cden > 0 THEN cnum / cden END, 6) AS dw "
            "FROM cum ORDER BY t DESC LIMIT 1"
        ),
        "kruskal_wallis": (
            # same tie-block rank-sum identity; plain cumulative over
            # the distinct-value histogram mirrors the bucketed one
            "WITH c AS (SELECT o_orderpriority AS g, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS x "
            "FROM orders), "
            "vals AS (SELECT x AS v, count(*) AS cnt FROM c GROUP BY x), "
            "cum AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum "
            "FROM vals), "
            "gv AS (SELECT g, x AS v, count(*) AS ng FROM c "
            "GROUP BY g, x), "
            "pg AS (SELECT g, sum(CAST(ng AS HUGEINT)) AS n, "
            "sum(CAST(ng AS HUGEINT) * (2 * CAST(cum AS HUGEINT) "
            "- CAST(cnt AS HUGEINT) + 1)) AS r2 "
            "FROM gv JOIN cum ON gv.v = cum.v GROUP BY g), "
            "tot AS (SELECT sum(CAST(cnt AS HUGEINT)) AS nn, "
            "sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT) "
            "* CAST(cnt AS HUGEINT) - CAST(cnt AS HUGEINT)) AS ties "
            "FROM vals), "
            "fold AS (SELECT g, count(*) OVER w AS ck, "
            "sum(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) "
            "/ CAST(n AS DOUBLE)) OVER w AS ct FROM pg "
            "WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW)), "
            "last AS (SELECT * FROM fold ORDER BY g DESC LIMIT 1), "
            "d AS (SELECT ck, ct, nn, "
            "CAST(nn AS DOUBLE) AS nd, "
            "1.0 - (CASE WHEN CAST(nn * nn * nn - nn AS DOUBLE) > 0 "
            "THEN CAST(ties AS DOUBLE) "
            "/ CAST(nn * nn * nn - nn AS DOUBLE) END) AS corr "
            "FROM last, tot) "
            "SELECT CAST(nn AS BIGINT) AS n, "
            "CAST(ck AS BIGINT) AS n_groups, "
            "CAST(ck - 1 AS BIGINT) AS df, "
            "round(CASE WHEN ck >= 2 AND nn > ck THEN "
            "3.0 * ct / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0) END, 6) "
            "AS h, "
            "round(CASE WHEN ck >= 2 AND nn > ck AND corr > 0 THEN "
            "(3.0 * ct / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)) / corr "
            "END, 6) AS h_adj FROM d"
        ),
        "streaming_cmh": (
            # drained complete-mode 2x2 state == batch conditional counts
            # (associative), so the oracle IS the batch CMH SQL
            # DuckDB dayofweek is 0=Sunday; Spark is 1=Sunday
            "WITH per AS (SELECT dayofweek(ts) + 1 AS s, "
            "count(*) FILTER (user_id % 2 = 0 "
            "AND event_type = 'purchase') AS a, "
            "count(*) FILTER (user_id % 2 = 0) AS n1, "
            "count(*) FILTER (event_type = 'purchase') AS m1, "
            "count(*) AS t FROM events GROUP BY 1), "
            "d AS (SELECT s, t, a, CAST(a AS DOUBLE) AS ad, "
            "CAST(n1 AS DOUBLE) AS n1d, CAST(m1 AS DOUBLE) AS m1d, "
            "CAST(t AS DOUBLE) AS td FROM per), "
            "cum AS (SELECT s, sum(t) OVER w AS cn, "
            "count(*) OVER w AS ck, sum(a) OVER w AS ca, "
            "sum(n1d * m1d / td) OVER w AS ce, "
            "sum(CASE WHEN t > 1 THEN n1d * (td - n1d) * m1d "
            "* (td - m1d) / (td * td * (td - 1.0)) ELSE 0.0 END) "
            "OVER w AS cv, "
            "sum(ad * (td - n1d - m1d + ad) / td) OVER w AS cor_num, "
            "sum((n1d - ad) * (m1d - ad) / td) OVER w AS cor_den "
            "FROM d WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)), "
            "last AS (SELECT * FROM cum ORDER BY s DESC LIMIT 1) "
            "SELECT CAST(cn AS BIGINT) AS n, "
            "CAST(ck AS BIGINT) AS n_strata, "
            "CAST(ca AS BIGINT) AS exposed_outcome, "
            "round(CASE WHEN cv > 0 THEN (CAST(ca AS DOUBLE) - ce) "
            "* (CAST(ca AS DOUBLE) - ce) / cv END, 6) AS chi2, "
            "round(CASE WHEN cor_den > 0 THEN cor_num / cor_den END, 6) "
            "AS or_mh FROM last"
        ),
        "chao1_richness": (
            "WITH per AS (SELECT o_custkey AS v, count(*) AS c "
            "FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1), "
            "a AS (SELECT coalesce(sum(c), 0) AS n, count(*) AS d, "
            "coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS f1, "
            "coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS f2 "
            "FROM per) "
            "SELECT CAST(n AS BIGINT) AS n, CAST(d AS BIGINT) AS d_obs, "
            "CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, "
            "round(CASE WHEN f2 > 0 THEN CAST(d AS DOUBLE) "
            "+ CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE) "
            "/ (2.0 * CAST(f2 AS DOUBLE)) ELSE CAST(d AS DOUBLE) "
            "+ CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) "
            "/ (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) END, 6) AS chao1, "
            "round(CASE WHEN n > 0 THEN CAST(f1 AS DOUBLE) "
            "/ CAST(n AS DOUBLE) END, 6) AS unseen_mass FROM a"
        ),
        "rmst": (
            # KM scaffold (same construction as the kaplan_meier
            # oracle) + the summation-by-parts jump fold the Spark
            # engine uses: RMST(τ) = τ − Σ_j ΔS_j·max(0, τ − t_j) with
            # ΔS_j = S(t_{j-1})·d_j/n_j from the EXCLUSIVE decimal
            # cumulative — per-row terms, no lag, identical expression
            # grouping, 12dp pre-rounded decimal accumulation
            "WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd, "
            "max(CAST(ts AS DATE)) AS ld FROM events GROUP BY user_id), "
            "h AS (SELECT max(CAST(ts AS DATE)) - 14 AS hz FROM events), "
            "subj AS (SELECT (ld - fd) AS dur, CASE WHEN ld < "
            "(SELECT hz FROM h) THEN 1 ELSE 0 END AS ev FROM pu), "
            "per_t AS (SELECT dur AS duration, sum(ev) AS n_events, "
            "count(*) AS n_at FROM subj GROUP BY dur), "
            "tot AS (SELECT sum(n_at) AS t FROM per_t), "
            "cum AS (SELECT duration, n_events, "
            "(SELECT t FROM tot) - sum(n_at) OVER "
            "(ORDER BY duration) + n_at AS n_risk FROM per_t), "
            "tm AS (SELECT duration, n_events, n_risk, "
            "CAST(round(CASE WHEN n_events < n_risk THEN "
            "ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)) "
            "ELSE 0.0 END, 12) AS DECIMAL(38,12)) AS lnt, "
            "CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead "
            "FROM cum), "
            "c AS (SELECT duration, n_events, n_risk, lnt, dead, "
            "sum(lnt) OVER w AS clnt, sum(dead) OVER w AS cdead FROM tm "
            "WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)), "
            "j AS (SELECT (60.0 - least(CAST(duration AS DOUBLE), 60.0)) "
            "* ((CASE WHEN cdead - dead >= 1 THEN 0.0 ELSE "
            "exp(CAST(clnt - lnt AS DOUBLE)) END) "
            "* (CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))) "
            "AS contrib FROM c), "
            "d AS (SELECT count(*) AS k, "
            "sum(CAST(round(contrib, 12) AS DECIMAL(38,12))) AS js "
            "FROM j) "
            "SELECT CAST(60.0 AS DOUBLE) AS horizon, "
            "CAST(k AS BIGINT) AS n_durations, "
            "round(60.0 - CAST(js AS DOUBLE), 6) AS rmst "
            "FROM d WHERE k > 0"
        ),
        "sequence_monotonicity": (
            # identical per-key lag ordering (ts, then event_id) and
            # identical top-5 offender rendering
            "WITH p AS (SELECT user_id AS k, lag(event_id) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev, "
            "event_id AS v FROM events WHERE user_id IS NOT NULL "
            "AND ts IS NOT NULL AND event_id IS NOT NULL), "
            "pr AS (SELECT k, CASE WHEN v < prev THEN 1 ELSE 0 END "
            "AS bad FROM p WHERE prev IS NOT NULL), "
            "pk AS (SELECT k, count(*) AS n, sum(bad) AS nb FROM pr "
            "GROUP BY k), "
            "off AS (SELECT coalesce(string_agg(k || '=' || "
            "CAST(nb AS VARCHAR), ', ' ORDER BY nb DESC, k ASC), '') "
            "AS top_keys FROM (SELECT k, nb FROM pk WHERE nb > 0 "
            "ORDER BY nb DESC, k ASC LIMIT 5)), "
            "d AS (SELECT count(*) AS n_keys, coalesce(sum(n), 0) AS "
            "n_pairs, coalesce(sum(nb), 0) AS n_violations FROM pk) "
            "SELECT CAST(n_keys AS BIGINT) AS n_keys, "
            "CAST(n_pairs AS BIGINT) AS n_pairs, "
            "CAST(n_violations AS BIGINT) AS n_violations, "
            "round(CASE WHEN n_pairs > 0 THEN "
            "CAST(n_violations AS DOUBLE) / CAST(n_pairs AS DOUBLE) "
            "ELSE 0.0 END, 6) AS violation_fraction, "
            "(SELECT top_keys FROM off) AS top_keys FROM d"
        ),
        "forecast_backtest": (
            # same split/lookup joins on the bounded daily frame; the
            # APE fold ordered by day
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, "
            "sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y "
            "FROM orders WHERE date_part('year', o_orderdate) = 1995 "
            "GROUP BY 1), "
            "cutoff AS (SELECT max(d) - 14 AS cut FROM daily), "
            "train AS (SELECT * FROM daily WHERE d <= "
            "(SELECT cut FROM cutoff)), "
            "test AS (SELECT * FROM daily WHERE d > "
            "(SELECT cut FROM cutoff)), "
            # train-only lookup: step back ceil((d-cut)/7) whole weeks
            # (multi-step seasonal naive, no holdout leakage)
            "lkp AS (SELECT d AS pd, y AS pred FROM train), "
            "tk AS (SELECT *, d - 7 * CAST((date_diff('day', "
            "(SELECT cut FROM cutoff), d) + 6) // 7 AS INT) AS pd "
            "FROM test), "
            "scored AS (SELECT tk.d, abs(tk.y - lkp.pred) AS err, "
            "tk.y AS actual FROM tk JOIN lkp ON tk.pd = lkp.pd), "
            "folded AS (SELECT d, count(*) OVER w AS n_test, "
            "sum(err) OVER w AS serr, "
            "sum(CASE WHEN actual <> 0 THEN "
            "abs(CAST(err AS DOUBLE)) / abs(CAST(actual AS DOUBLE)) "
            "END) OVER w AS sape, "
            "count(CASE WHEN actual <> 0 THEN 1 END) OVER w AS n_ape "
            "FROM scored WINDOW w AS (ORDER BY d ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW)), "
            "ta AS (SELECT * FROM folded ORDER BY d DESC LIMIT 1), "
            "ins AS (SELECT count(*) AS n_in, "
            "sum(abs(t.y - p.prev)) AS sin FROM train t JOIN "
            "(SELECT d + 7 AS d, y AS prev FROM train) p ON t.d = p.d), "
            "nt AS (SELECT count(*) AS n_train FROM train), "
            "d2 AS (SELECT n_train, n_test, "
            "CASE WHEN n_test > 0 THEN CAST(serr AS DOUBLE) "
            "/ CAST(n_test AS DOUBLE) END AS mae, "
            "CASE WHEN n_ape > 0 THEN sape / CAST(n_ape AS DOUBLE) "
            "* 100.0 END AS mape, "
            "CASE WHEN n_in > 0 THEN CAST(sin AS DOUBLE) "
            "/ CAST(n_in AS DOUBLE) END AS naive_mae "
            "FROM ta, ins, nt) "
            "SELECT CAST(n_train AS BIGINT) AS n_train, "
            "CAST(n_test AS BIGINT) AS n_test, round(mae, 6) AS mae, "
            "round(mape, 6) AS mape_pct, "
            "round(naive_mae, 6) AS naive_mae, "
            "round(CASE WHEN naive_mae > 0 THEN mae / naive_mae END, 6) "
            "AS mase FROM d2"
        ),
        "grouped_welch_bh": _grouped_welch_bh_sql(),
        "q9_product_profit": (
            # all-integer scaled profit: rev_e4 = cents*(100-disc_pct),
            # cost_e4 = qty*retail_cents*60
            "SELECT n.n_name AS nation, "
            "CAST(date_part('year', o.o_orderdate) AS INT) AS o_year, "
            "CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) "
            "* 100 AS BIGINT) AS HUGEINT) * (100 - "
            "CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) "
            "- sum(CAST(CAST(l.l_quantity AS BIGINT) AS HUGEINT) "
            "* CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT) * 60) AS BIGINT) AS profit_e4 "
            "FROM lineitem l "
            "JOIN part p ON l.l_partkey = p.p_partkey "
            "AND p.p_name LIKE '%widget%' "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "GROUP BY 1, 2 ORDER BY nation, o_year DESC"
        ),
        "minhash_query_neardup": _minhash_query_sql(),
        "minhash_query_recall": _minhash_query_recall_sql(),
        "pq_trained_codebook": _pq_trained_sql(),
        "cox_score": (
            # same duration/censoring construction as logrank; covariate
            # sums stay DECIMAL-exact; risk set via DESC cumulative
            # window; U/I accumulate 6dp-pre-rounded terms as exact
            # decimals (order-independent); identical double expression
            # grouping with string-routed decimal->double conversions
            "WITH per AS (SELECT o_custkey, "
            "min(CAST(o_orderdate AS DATE)) AS fd, "
            "max(CAST(o_orderdate AS DATE)) AS ld, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            "AS BIGINT)) AS spend_c FROM orders GROUP BY 1), "
            "subj AS (SELECT ld - fd AS t, CASE WHEN ld < "
            "(SELECT max(CAST(o_orderdate AS DATE)) - 365 FROM orders) "
            "THEN 1 ELSE 0 END AS ev, "
            "CAST(spend_c AS DECIMAL(18,6)) AS x FROM per), "
            "tot AS (SELECT count(*) AS n_subj FROM subj), "
            "hist AS (SELECT t, count(*) AS m, sum(ev) AS d, "
            "sum(CASE WHEN ev = 1 THEN x "
            "ELSE CAST(0 AS DECIMAL(18,6)) END) AS sxe, "
            # DECIMAL(19,6) forces DuckDB's int128 multiply path
            # (18-precision products overflow int64); 19+19=38 fits the
            # width cap and stays exact, matching Spark's (37,12)
            "sum(x) AS sx, sum(CAST(x AS DECIMAL(19,6)) "
            "* CAST(x AS DECIMAL(19,6))) AS sx2 FROM subj GROUP BY 1), "
            "r AS (SELECT t, d, sxe, sum(m) OVER wrev AS n, "
            "sum(sx) OVER wrev AS s1, sum(sx2) OVER wrev AS s2 "
            "FROM hist WINDOW wrev AS (ORDER BY t DESC ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW)), "
            # decimal -> VARCHAR -> DOUBLE mirrors the operator's
            # string round-trip (correctly-rounded parse both engines)
            "terms AS (SELECT t, d, "
            "CAST(CAST(sxe AS VARCHAR) AS DOUBLE) - CAST(d AS DOUBLE) "
            "* (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) "
            "/ CAST(n AS DOUBLE)) AS u_t, "
            "CAST(d AS DOUBLE) * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) "
            "/ CAST(n AS DOUBLE) "
            "- (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) "
            "/ CAST(n AS DOUBLE))) AS i_t "
            "FROM r WHERE d > 0), "
            # 6dp-pre-rounded terms accumulate as EXACT decimals
            # (order-independent — mirrors the operator); one final
            # string-routed conversion back to double
            "agg AS (SELECT sum(d) AS nev, "
            "sum(CAST(round(u_t, 6) AS DECIMAL(38,6))) AS u, "
            "sum(CAST(round(i_t, 6) AS DECIMAL(38,6))) AS info "
            "FROM terms), "
            "fin AS (SELECT nev, "
            "CAST(CAST(u AS VARCHAR) AS DOUBLE) AS ud, "
            "CAST(CAST(info AS VARCHAR) AS DOUBLE) AS id_ "
            "FROM agg WHERE nev IS NOT NULL) "
            "SELECT CAST(n_subj AS BIGINT) AS n_subjects, "
            "CAST(nev AS BIGINT) AS n_events, round(ud, 6) AS u_score, "
            "round(id_, 6) AS information, "
            "round(CASE WHEN id_ > 0 THEN ud * ud / id_ END, 6) AS chi2 "
            "FROM fin, tot"
        ),
        "streaming_obf_monitor": _obf_monitor_sql(),
        "qte_deciles": _qte_sql(),
        "grouped_qte": _grouped_qte_sql(),
        "capture_recapture": (
            # same double-op order: (n+1) products, (m+1) denominators
            "WITH fps AS (SELECT DISTINCT source AS src, "
            "md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp "
            "FROM documents WHERE text IS NOT NULL "
            "AND source IN ('src0', 'src1')), "
            "flags AS (SELECT fp, "
            "max(CASE WHEN src = 'src0' THEN 1 ELSE 0 END) AS ia, "
            "max(CASE WHEN src = 'src1' THEN 1 ELSE 0 END) AS ib "
            "FROM fps GROUP BY fp), "
            "c AS (SELECT CAST(coalesce(sum(ia), 0) AS BIGINT) AS n_a, "
            "CAST(coalesce(sum(ib), 0) AS BIGINT) AS n_b, "
            "CAST(coalesce(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 END), "
            "0) AS BIGINT) AS n_both, "
            "CAST(count(*) AS BIGINT) AS n_union FROM flags), "
            "d AS (SELECT *, CAST(n_a AS DOUBLE) AS nad, "
            "CAST(n_b AS DOUBLE) AS nbd, CAST(n_both AS DOUBLE) AS md "
            "FROM c) "
            "SELECT n_a, n_b, n_both, n_union, "
            "round((nad + 1.0) * (nbd + 1.0) / (md + 1.0) - 1.0, 6) "
            "AS chapman_total, "
            "round(sqrt((nad + 1.0) * (nbd + 1.0) * (nad - md) "
            "* (nbd - md) / ((md + 1.0) * (md + 1.0) * (md + 2.0))), 6) "
            "AS se, "
            "round(greatest((nad + 1.0) * (nbd + 1.0) / (md + 1.0) - 1.0 "
            "- CAST(n_union AS DOUBLE), 0.0), 6) AS est_unseen "
            "FROM d"
        ),
    }
