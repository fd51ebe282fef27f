"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship frontier-scheduling query on
sf0.001. ``queries()`` exposes one entry per implemented operator
family from SURVEY.md §2 plus the training-data operators; EVERY entry
has a matching DuckDB ``oracle_sql()`` (since r3 that includes q38,
whose oracle re-implements the DSR wire decode in SQL over the same
captured fixture, anchored by the server's RT restart token).
Approximate operators are oracled one of two ways: against the EXACT
result when the approximation provably/verifiably recovers it on this
corpus (q31 MinHash → exact Jaccard pair set), or by a full
independent SQL re-simulation of the algorithm (q32 SimHash votes, q37
sign-LSH hyperplanes, q46 IVF probe, q47 retry model, q38 DSR decode).

Conventions shared by both sides (so value hashes match):
* every computed column is aliased identically in Spark and SQL;
* double aggregates are rounded (sums 2dp, ratios/scores 6dp) to kill
  float-summation-order noise between engines;
* approximate similarity ranks never expose raw float scores.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_tjce_spark.functions import ptbr, slug, text
from crawler_tjce_spark.operators import dedup, joins, similarity, windows

STOP_SQL = "('the','a','of','and','to','in','is','it','that','for')"
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# flagship: the politeness pick + global ordem over a synthetic frontier
# (crawl contract §3-4) derived from the documents table
# ===========================================================================

def _frontier_from_documents(docs: DataFrame) -> DataFrame:
    """Synthetic frontier with PER-HOST budgets. Hosts are shaped
    (``source-h<doc_id % 7>`` → ~140 hosts × ~3.6 rows at sf0.01, with
    budgets of 2 or 5 depending on host-name length) so some hosts carry
    fewer rows than their budget and some carry more — the oracle then
    exercises BOTH branches of the fused pick's analytic
    ``least(count, budget)`` offset (VERDICT r3 task 8)."""
    host = F.concat(F.col("source"), F.lit("-h"), (F.col("doc_id") % 7).cast("int"))
    return docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example/p/"), F.col("doc_id")).alias("url"),
        host.alias("host"),
        F.col("n_chars").cast("int").alias("score"),
        (F.lit(2) + F.length(host) % 4).cast("int").alias("host_budget"),
    )


def q_frontier_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED politeness pick + global ordem — the exact operator the
    crawl runner ships (`plans/frontier.py:politeness_pick_ordem`): per-
    host top-``budget`` by (score desc, url asc), cross-host offsets
    computed analytically as least(host_count, budget) without
    materializing the picked set, one lazy plan (SURVEY §2.5 W-added,
    ref politeness budget config.py:43-55). Nonzero ordem_offset
    exercises the resume path."""
    from crawler_tjce_spark.plans.frontier import politeness_pick_ordem

    fr = _frontier_from_documents(_t(spark, sf_dir, "documents"))
    out = politeness_pick_ordem(fr, ordem_offset=1000, budget_col="host_budget")
    return out.select("ordem", "url", "host", "score", "host_budget")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_frontier_pick(spark, "/root/testdata/sf0.001")


# ===========================================================================
# queries
# ===========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- flagship FIRST: the driver records at most 50 entries in
    # registration order, and in r3 the flagship (registered last, 51st)
    # silently fell out of the correctness gate (VERDICT r3 missing #1).
    q["q35_frontier_pick"] = q_frontier_pick

    # -- scans / filters / aggregates (SURVEY §2.1, §2.2, §2.4) -------------
    def q01_pushdown_agg(spark, sf):  # S1+P1+P2+A2: TPC-H Q1 shape
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q01_pushdown_agg"] = q01_pushdown_agg

    def q02_filter_in(spark, sf):  # P2+P3: IN-list + year equi-filter
        o = _t(spark, sf, "orders")
        return (
            o.filter(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                & (F.year("o_orderdate") == 1995)
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        )

    q["q02_filter_in"] = q02_filter_in

    def q03_range_filter(spark, sf):  # P5: post-hoc range filters
        li = _t(spark, sf, "lineitem")
        return li.filter(
            (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
            & (F.col("l_extendedprice") < 20000)
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )

    q["q03_range_filter"] = q03_range_filter

    def q04_validity_filter(spark, sf):  # P6: row-validity filter
        d = _t(spark, sf, "documents")
        return (
            d.filter((F.length("text") >= 100) & F.col("lang").isNotNull())
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q04_validity_filter"] = q04_validity_filter

    def q05_prefix_filter(spark, sf):  # P7: sentinel/prefix exclusion
        d = _t(spark, sf, "documents")
        return (
            d.filter(~F.col("source").startswith("src1"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q05_prefix_filter"] = q05_prefix_filter

    def q06_min_probe(spark, sf):  # S5+A1: 1-row min/max probe
        e = _t(spark, sf, "events")
        return e.agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count(F.lit(1)).alias("n"),
        )

    q["q06_min_probe"] = q06_min_probe

    def q07_distinct_sorted(spark, sf):  # S2+A3+O5: sorted distinct scan
        c = _t(spark, sf, "customer")
        return c.select("c_mktsegment").distinct().orderBy("c_mktsegment")

    q["q07_distinct_sorted"] = q07_distinct_sorted

    def q17_count_distinct(spark, sf):  # A3+A4: distinct-agg
        o = _t(spark, sf, "orders")
        return o.groupBy("o_orderpriority").agg(
            F.countDistinct("o_custkey").alias("n_cust"), F.count(F.lit(1)).alias("n_orders")
        )

    q["q17_count_distinct"] = q17_count_distinct

    def q16_rollup(spark, sf):  # A5: Subtotal:1 → rollup
        li = _t(spark, sf, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        )

    q["q16_rollup"] = q16_rollup

    # -- windows / sequences (SURVEY §2.5) -----------------------------------
    def q08_topk_per_group(spark, sf):  # O6: per-group top-k
        o = _t(spark, sf, "orders")
        return windows.group_topk(
            o, ["o_orderpriority"], [F.desc("o_totalprice"), F.col("o_orderkey")], 3
        ).select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rk").alias("rk"))

    q["q08_topk_per_group"] = q08_topk_per_group

    def q09_global_ordem(spark, sf):  # W1: global sequence number
        o = _t(spark, sf, "orders").filter(F.year("o_orderdate") == 1995)
        return windows.global_ordem(
            o, [F.col("o_orderdate"), F.col("o_orderkey")]
        ).select("ordem", "o_orderkey")

    q["q09_global_ordem"] = q09_global_ordem

    def q10_fill_forward(spark, sf):  # W2: delta-bitmask fill-forward
        e = _t(spark, sf, "events").withColumn(
            "v", F.when(F.col("value") < 0.2, F.lit(None)).otherwise(F.col("value"))
        )
        filled = windows.fill_forward(e, ["v"], ["user_id"], [F.col("ts"), F.col("event_id")])
        return filled.select("event_id", F.round("v", 6).alias("v_filled"))

    q["q10_fill_forward"] = q10_fill_forward

    # (q11_keyset_page was retired in r4: its oracle SQL was byte-identical
    # to q39_ir_keyset_scan's, which additionally exercises the IR
    # translator — merged per VERDICT r3 task 1b to stay within the
    # driver's 50-entry window with the flagship registered first.)

    def q36_sessionize(spark, sf):  # §2.9 analog: gap-based sessionization
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # microsecond gap via timestampdiff ON THE NTZ COLUMN — pure
        # wall-clock arithmetic like DuckDB's epoch_us difference. (The
        # earlier unix_micros(cast) form routed through the SESSION
        # timezone: correct under this repo's UTC pin, but a non-UTC
        # driver session crossing a DST boundary could flip a gap.)
        gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
        newsess = F.when(gap.isNull() | (gap > 600 * 1_000_000), 1).otherwise(0)
        sess = e.withColumn(
            "session_id", F.sum(newsess).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        # cast to long explicitly: DuckDB's windowed sum yields HUGEINT and
        # drivers that stringify int128 differently from int64 would split
        # the hash here even with identical values (VERDICT r1 "what's wrong" #1)
        return sess.groupBy("user_id").agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )

    q["q36_sessionize"] = q36_sessionize

    # -- sorts / limits (SURVEY §2.6) ----------------------------------------
    def q15_sort_desc_limit(spark, sf):  # O2+O6: top-n global sort
        o = _t(spark, sf, "orders")
        return o.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(10).select(
            "o_orderkey", "o_totalprice"
        )

    q["q15_sort_desc_limit"] = q15_sort_desc_limit

    # -- set ops / joins (SURVEY §2.3, §2.7) ---------------------------------
    # q12_union_dedup RETIRED (r5, VERDICT r4 #4): its U1+U2 coverage
    # (union of pages + set dedup) is a strict subset of q28_dedup_exact
    # (the dedup operator) + the tableio union tests + the crawl-parity
    # suite; the slot now gates q53_cuckoo_prefilter.

    def q13_anti_join(spark, sf):  # J3: seen-set anti-join
        c = _t(spark, sf, "customer")
        # "seen" = customers with a high-value order; anti-join keeps the
        # rest (non-vacuous at every SF — every custkey has *some* order)
        o = (
            _t(spark, sf, "orders")
            .filter(F.col("o_totalprice") > 300000)
            .select(F.col("o_custkey").alias("c_custkey"))
        )
        return joins.seen_anti_join(c, o, "c_custkey").select("c_custkey", "c_name")

    q["q13_anti_join"] = q13_anti_join

    def q14_broadcast_join(spark, sf):  # J1+J2: dims via broadcast joins
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        return (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count(F.lit(1)).alias("n_cust"),
                F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
            )
        )

    q["q14_broadcast_join"] = q14_broadcast_join

    # -- scalar functions (SURVEY §2.8) --------------------------------------
    def q18_ptbr_money(spark, sf):  # F4+F5: render→parse round-trip
        li = _t(spark, sf, "lineitem")
        parsed = ptbr.parse_ptbr_number(ptbr.format_currency_ptbr(F.col("l_extendedprice")))
        return li.groupBy("l_returnflag").agg(
            F.round(F.sum(parsed), 2).alias("sum_parsed"), F.count(F.lit(1)).alias("n")
        )

    q["q18_ptbr_money"] = q18_ptbr_money

    def q19_excel_dates(spark, sf):  # F6: Excel-serial date parse
        o = _t(spark, sf, "orders")
        serial = F.datediff(F.col("o_orderdate"), F.lit("1899-12-30").cast("date"))
        parsed = ptbr.parse_multiformat_date(serial.cast("string"))
        return o.groupBy(F.year(parsed).alias("yr")).agg(F.count(F.lit(1)).alias("n"))

    q["q19_excel_dates"] = q19_excel_dates

    def q20_processo_pad(spark, sf):  # F8: 20-digit zero pad
        o = _t(spark, sf, "orders").filter(F.col("o_orderkey") <= 200)
        return o.select(
            "o_orderkey", ptbr.clean_processo(F.col("o_orderkey")).alias("processo")
        )

    q["q20_processo_pad"] = q20_processo_pad

    def q21_cnj_regex(spark, sf):  # F9: CNJ process-number detection
        li = _t(spark, sf, "lineitem")
        proc = F.when(
            F.col("l_linenumber") % 2 == 0,
            F.format_string(
                "%07d-%02d.2024.8.06.%04d",
                (F.col("l_orderkey") % 10000000).cast("int"),
                (F.col("l_suppkey") % 100).cast("int"),
                (F.col("l_partkey") % 10000).cast("int"),
            ),
        ).otherwise(F.concat(F.lit("proc-"), F.col("l_orderkey").cast("string")))
        return (
            li.select(ptbr.is_cnj_processo(proc).alias("is_cnj"))
            .groupBy("is_cnj")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q21_cnj_regex"] = q21_cnj_regex

    def q22_slugify(spark, sf):  # F1: slugify (ASCII domain)
        c = _t(spark, sf, "customer").filter(F.col("c_custkey") <= 100)
        return c.select("c_custkey", slug.slugify_expr("c_name").alias("slug"))

    q["q22_slugify"] = q22_slugify

    # q23_date_render RETIRED (r5, VERDICT r4 #4): F7's dd/MM/yyyy render
    # is pinned by tests/test_functions.py unit coverage and rides the
    # CSV-sink byte-parity goldens; the slot now gates q52_hash64_neardup.

    def q24_json_extract(spark, sf):  # F11+F14: JSON path + safe_float
        e = _t(spark, sf, "events")
        v = ptbr.safe_float(F.get_json_object("props", "$.k"))
        return e.groupBy("event_type").agg(
            F.round(F.sum(v), 2).alias("sum_k"), F.count(F.lit(1)).alias("n")
        )

    q["q24_json_extract"] = q24_json_extract

    # -- text analysis (training-data ops) -----------------------------------
    def q25_token_stats(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            text.ws_token_count("text").alias("ws_tokens"),
            text.bpe_token_count("text").alias("bpe_tokens"),
        )

    q["q25_token_stats"] = q25_token_stats

    def q26_quality(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id", F.round(text.quality_score("text"), 6).alias("quality"))

    q["q26_quality"] = q26_quality

    def q27_fingerprint(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id", text.fingerprint_md5("text").alias("fp"))

    q["q27_fingerprint"] = q27_fingerprint

    def q34_langid(spark, sf):
        d = _t(spark, sf, "documents")
        return d.groupBy(text.lang_id("text").alias("lang_pred")).agg(
            F.count(F.lit(1)).alias("n")
        )

    q["q34_langid"] = q34_langid

    # -- dedup family ---------------------------------------------------------
    def q28_dedup_exact(spark, sf):
        d = _t(spark, sf, "documents")
        return dedup.dedup_exact(d, "text", "doc_id").select("doc_id")

    q["q28_dedup_exact"] = q28_dedup_exact

    def q33_ngram_jaccard(spark, sf):
        d = _t(spark, sf, "documents")
        pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
        return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    q["q33_ngram_jaccard"] = q33_ngram_jaccard

    def q31_minhash_pairs(spark, sf):
        # Oracled against the EXACT Jaccard pair set: banding recall is
        # 100% on this corpus (deterministic hash family, verified at
        # sf0.001/0.01/0.1), and every emitted pair is exact-verified, so
        # approx == exact here and the driver's hash gate checks both
        # soundness and recall.
        d = _t(spark, sf, "documents")
        return dedup.dedup_minhash_lsh(d, "text", "doc_id", threshold=0.5).select(
            "id_a", "id_b"
        )

    q["q31_minhash_pairs"] = q31_minhash_pairs

    def q32_simhash_pairs(spark, sf):
        # md5-derived token hash → the whole SimHash pipeline (votes,
        # packing, pigeonhole banding, hamming verify) is re-computable
        # in ANSI SQL, so the oracle is a full independent simulation.
        d = _t(spark, sf, "documents")
        return dedup.simhash_near_pairs(
            d, "text", "doc_id", max_hamming=3, token_hash="md5"
        ).select("id_a", "id_b", "hamming")

    q["q32_simhash_pairs"] = q32_simhash_pairs

    def q52_hash64_neardup(spark, sf):
        # 64-bit-Hamming near-dup (operators/dedup.hash64_near_pairs —
        # the phash-image-dedup operator, r4) over a STRUCTURED md5
        # fingerprint: four 16-bit fields (lang, source, length-bucket,
        # text noise; top field 15-bit to stay in signed-long range) so
        # documents sharing metadata land within small Hamming distances
        # of each other — exactly reproducible in ANSI SQL, so the
        # oracle is a brute-force all-pairs Hamming join. Guard off
        # (max_bucket=None) for exactness; the degenerate-pileup guard
        # has its own unit test (tests/test_hash64_neardup.py).
        d = _t(spark, sf, "documents")

        def f16(c):
            return F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long")

        fp = (
            (f16(F.col("text")) % 32768) * F.lit(281474976710656)
            + f16(F.floor(F.col("n_chars") / 200).cast("long").cast("string"))
            * F.lit(4294967296)
            + f16(F.coalesce(F.col("source"), F.lit(""))) * F.lit(65536)
            + f16(F.coalesce(F.col("lang"), F.lit("")))
        )
        fpd = d.select("doc_id", fp.alias("phash"))
        return dedup.hash64_near_pairs(
            fpd, "phash", "doc_id", max_hamming=3, max_bucket=None
        )

    q["q52_hash64_neardup"] = q52_hash64_neardup

    def q53_cuckoo_prefilter(spark, sf):
        # Cuckoo-filter seen-set prefilter + authoritative exact
        # anti-join (seen.filter_unseen with the cuckoo tagger): the output
        # must equal plain NOT IN semantics exactly — false positives
        # only ever cost an extra probe, false negatives are impossible.
        # Seen set = every third document's synthesized URL.
        from functools import partial

        from crawler_tjce_spark.plans import cuckoo as ck
        from crawler_tjce_spark.plans import seen as seenmod

        d = _t(spark, sf, "documents")
        u = d.select(
            "doc_id",
            F.concat(
                F.lit("https://docs.example/"),
                F.coalesce(F.col("lang"), F.lit("")),
                F.lit("/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        seen = u.filter(F.col("doc_id") % 3 == 0)
        cf = ck.build_cuckoo(seen, "url", expected_n=20_000)
        tagger = partial(ck.maybe_seen_expr_cuckoo, url_col="url", cf=cf)
        return seenmod.filter_unseen(u, seen, "url", tagger).select("doc_id", "url")

    q["q53_cuckoo_prefilter"] = q53_cuckoo_prefilter

    # -- similarity search ----------------------------------------------------
    def q29_emb_topk(spark, sf):
        e = _t(spark, sf, "embeddings")
        qv = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.cosine_topk(e, qv, 5).select("query_id", "vec_id", "rk")

    q["q29_emb_topk"] = q29_emb_topk

    def q30_emb_neardup(spark, sf):
        e = _t(spark, sf, "embeddings")
        # 0.4 is non-vacuous at every SF (59-920 pairs); exact blocked-GEMM
        # join (equi-join on block-pair keys, no BroadcastNestedLoop).
        # r6: the block grid is scale-adaptive (dedup._block_count) —
        # the old explicit block_rows=256 made B track N and the ×B
        # replication shuffle grow quadratically (189 MB at sf1.0; ~12 MB
        # adaptive). B changes task granularity only, never the result.
        return dedup.embedding_near_dup_pairs(
            e, "embedding", "vec_id", threshold=0.4
        ).select("id_a", "id_b")

    q["q30_emb_neardup"] = q30_emb_neardup

    def q50_emb_neardup_ann(spark, sf):
        # ANN-fronted near-dup (VERDICT r2 task 6): the corpus has no
        # pairs above cosine ~0.6, so a high-threshold query over it
        # alone would be vacuous — instead the query plants near-dups
        # deterministically by unioning a negate-first-coordinate copy
        # of every vector (an EXACT float op both engines reproduce
        # bit-for-bit): pair (i, i+1000000) has cosine 1 − 2·x₀²/‖x‖²,
        # typically ≈0.97. The oracle re-simulates the multi-table
        # sign-LSH candidate front with hyperplane literals (q37
        # pattern) + the exact-cosine verify, so the gate checks the
        # whole ANN pipeline value-for-value — recall vs the exact pair
        # set is asserted separately (tests/test_operators.py).
        e = _t(spark, sf, "embeddings")
        aug = e.select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
            F.concat(
                F.array(-F.element_at("embedding", 1)),
                F.slice("embedding", 2, 1_000_000),
            ).alias("embedding"),
        )
        allv = e.select("vec_id", "embedding").unionByName(aug)
        return dedup.embedding_near_dup_pairs_ann(
            allv, "embedding", "vec_id", threshold=0.8, dim=64, bits=8, tables=4
        ).select("id_a", "id_b")

    q["q50_emb_neardup_ann"] = q50_emb_neardup_ann

    def q46_emb_topk_ivf(spark, sf):
        # Sample-initialized quantizer (cells = embeddings of vec_id<8):
        # SQL-replicable, so the oracle re-runs the ENTIRE IVF algorithm
        # (argmin assignment, nprobe probing, in-cell exact cosine top-k)
        # independently in DuckDB. The k-means-trained quantizer path is
        # covered by unit tests; the probe machinery is identical.
        e = _t(spark, sf, "embeddings")
        cents = [
            [float(x) for x in r.embedding]
            for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        ]  # bounded: n_cells rows
        qv = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.cosine_topk_ivf(
            e, qv, 5, dim=64, n_cells=8, nprobe=3, centroids=cents
        ).select("query_id", "vec_id", "rk")

    q["q46_emb_topk_ivf"] = q46_emb_topk_ivf

    def q37_emb_topk_lsh(spark, sf):
        # Oracle is a full independent simulation: the seeded hyperplanes
        # are baked into the SQL as literals and DuckDB recomputes the
        # same sign-LSH buckets + in-bucket exact top-k.
        e = _t(spark, sf, "embeddings")
        qv = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return similarity.cosine_topk_lsh(e, qv, 5, dim=64, bits=4).select(
            "query_id", "vec_id", "rk"
        )

    q["q37_emb_topk_lsh"] = q37_emb_topk_lsh

    def q47_fetch_lineage(spark, sf):
        # Deterministic retry/backoff bookkeeping (tenacity analog, ref
        # crawler/crawler.py:252-254): urls derived from orders keys; the
        # md5-probe failure model is re-computed independently by the
        # DuckDB oracle, so attempts/status/backoff verify value-for-value.
        from crawler_tjce_spark.plans import fetch as fetchmod

        o = _t(spark, sf, "orders").select(
            "o_orderkey",
            F.concat(
                F.lit("https://h"),
                F.pmod(F.col("o_orderkey"), F.lit(50)).cast("string"),
                F.lit(".example/o/"),
                F.col("o_orderkey").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("h"), F.pmod(F.col("o_orderkey"), F.lit(50)).cast("string"),
                F.lit(".example"),
            ).alias("host"),
        )
        return fetchmod.with_fetch_lineage(
            o, fail_pct=fetchmod.host_fail_pct_expr("host", flaky_share=20, fail_pct=50)
        ).select("o_orderkey", "fetch_attempts", "fetch_status", "backoff_total_s")

    q["q47_fetch_lineage"] = q47_fetch_lineage

    def q51_duration_hist(spark, sf):
        # Request-duration histogram analog (ref metrics.py:10-15:
        # prometheus buckets 0.1-10 s per entity): deterministic duration
        # model over the q47 retry lineage, cumulative per-host (le,
        # count) rows; the oracle recomputes probes, durations, and
        # buckets independently in SQL.
        from crawler_tjce_spark.plans import fetch as fetchmod

        o = _t(spark, sf, "orders").select(
            F.concat(
                F.lit("https://h"),
                F.pmod(F.col("o_orderkey"), F.lit(50)).cast("string"),
                F.lit(".example/o/"),
                F.col("o_orderkey").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("h"), F.pmod(F.col("o_orderkey"), F.lit(50)).cast("string"),
                F.lit(".example"),
            ).alias("host"),
        )
        lin = fetchmod.with_fetch_lineage(
            o, fail_pct=fetchmod.host_fail_pct_expr("host", 20, 50)
        )
        return fetchmod.duration_histogram(
            fetchmod.with_request_duration(lin)
        ).select(
            "host", "le",
            F.col("bucket_count").cast("long").alias("bucket_count"),
            F.round("duration_sum", 6).alias("duration_sum"),
        )

    q["q51_duration_hist"] = q51_duration_hist

    def q48_api_filters(spark, sf):
        # Reference API query semantics (main.py:698-739 apply_filters +
        # sort_rows) as the declarative plan layer in crawler_tjce_spark.api,
        # over a precatórios-shaped projection of orders.
        from crawler_tjce_spark import api

        o = _t(spark, sf, "orders").select(
            F.col("o_orderkey").alias("ordem"),
            F.year("o_orderdate").cast("long").alias("ano_orcamento"),
            F.col("o_totalprice").alias("valor_atual"),
            F.col("o_orderpriority").alias("natureza"),
        )
        out = api.apply_filters(
            o, ano_min=1994, ano_max=1996, valor_min=120000.0, natureza="2-high"
        )
        return api.sort_rows(out, "valor_atual", "desc").select(
            "ordem", "ano_orcamento", F.round("valor_atual", 2).alias("valor_atual")
        )

    q["q48_api_filters"] = q48_api_filters

    def q49_robots_match(spark, sf):
        # End-to-end robots.txt semantics (north_rule): the REAL parser +
        # longest-match join run over literal robots bodies; the oracle is
        # a hand-translated SQL specification of the same rules — fully
        # independent of the implementation.
        from crawler_tjce_spark.plans.robots_txt import parse_robots_txt, robots_ok_join

        bodies = spark.createDataFrame(
            [
                ("h0.example",
                 "User-agent: tjce-spark\nDisallow: /private/\nAllow: /private/pub*.html\n"),
                ("h1.example",
                 "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp\n"),
            ],
            "host string, robots_txt string",
        )
        k = F.col("o_orderkey")
        path = (
            F.when(k % 5 == 0, F.lit("/private/doc.html"))
            .when(k % 5 == 1, F.concat(F.lit("/private/pub"), k.cast("string"), F.lit(".html")))
            .when(k % 5 == 2, F.concat(F.lit("/a/"), k.cast("string"), F.lit(".pdf")))
            .when(k % 5 == 3, F.concat(F.lit("/tmp/"), k.cast("string")))
            .otherwise(F.concat(F.lit("/ok/"), k.cast("string")))
        )
        urls = _t(spark, sf, "orders").select(
            "o_orderkey",
            F.concat(F.lit("h"), (k % 3).cast("string"), F.lit(".example")).alias("host"),
            F.concat(
                F.lit("https://h"), (k % 3).cast("string"), F.lit(".example"), path
            ).alias("url"),
        )
        return robots_ok_join(
            urls, parse_robots_txt(bodies), agent="tjce-spark"
        ).select("o_orderkey", "robots_ok")

    q["q49_robots_match"] = q49_robots_match

    # -- DSR wire-format decode of the reference's captured Power BI
    # response. Oracled since r3: the DuckDB side re-implements the wire
    # decode (R-mask delta inheritance + ValueDicts + coercions) from
    # scratch in SQL over the same JSON file — and the fixture's own
    # server-issued RT restart token independently pins the 500th row
    # (ordem 500, processo 0001637-12.2021.8.06.0000, ano 2022,
    # valor 33043.15), so both engines are anchored to the server truth.
    def q38_dsr_decode(spark, sf):
        import json

        from crawler_tjce_spark.sources import dsr

        with open("/root/reference/examples/response.json") as f:
            raw = f.read()
        pages = spark.createDataFrame([(0, raw)], "page_id long, payload string")
        return dsr.decode_pages_df(spark, pages).select(
            "row_idx", "ordem", "processo", "ano_orcamento", "natureza",
            F.round("valor_original", 2).alias("valor_original"),
        )

    q["q38_dsr_decode"] = q38_dsr_decode

    # -- reshaping / analytic extensions ---------------------------------
    def q41_pivot(spark, sf):  # pivot (conditional-agg form for oracle parity)
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["O", "F"])
            .sum("l_quantity")
            .select(
                "l_returnflag",
                F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_open"),
                F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_filled"),
            )
        )

    q["q41_pivot"] = q41_pivot

    def q42_cube(spark, sf):  # grouping-sets beyond the reference's Subtotal:1
        li = _t(spark, sf, "lineitem")
        return li.cube("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
        )

    q["q42_cube"] = q42_cube

    def q43_asof_join(spark, sf):  # as-of join (no native Spark operator)
        # lineitem shipdates vs order dates overlap (1992-1998) → a rich
        # multi-group result, unlike events (which all postdate orders)
        li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
        od = _t(spark, sf, "orders").select("o_orderdate").distinct()
        matched = joins.asof_join_timeline(
            li, od, left_ts="l_shipdate", right_ts="o_orderdate", right_cols=["o_orderdate"]
        )
        return (
            matched.filter(F.col("o_orderdate").isNotNull())
            .groupBy(F.year("o_orderdate").alias("yr"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q43_asof_join"] = q43_asof_join

    def q44_percentiles(spark, sf):  # exact interpolated quantiles per group
        li = _t(spark, sf, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", 0.95), 4).alias("p95"),
        )

    q["q44_percentiles"] = q44_percentiles

    def q45_unpivot(spark, sf):  # unpivot/stack → long form
        li = _t(spark, sf, "lineitem")
        long = li.selectExpr(
            "stack(2, 'quantity', l_quantity, 'extendedprice', l_extendedprice)"
            " AS (measure, value)"
        )
        return long.groupBy("measure").agg(
            F.round(F.sum("value"), 2).alias("total"), F.count(F.lit(1)).alias("n")
        )

    q["q45_unpivot"] = q45_unpivot

    # -- semantic-query IR (the reference's query language, P1-P4/O1-O6/W3)
    def q39_ir_keyset_scan(spark, sf):
        from crawler_tjce_spark.plans import ir

        query = {
            "Query": {
                "From": [{"Name": "o", "Entity": "orders"}],
                "Select": [
                    {"Column": {"Property": "o_orderkey"}, "Name": "o_orderkey"},
                    {"Column": {"Property": "o_orderdate"}, "Name": "o_orderdate"},
                ],
                "OrderBy": [
                    {"Direction": 1, "Expression": {"Column": {"Property": "o_orderdate"}}},
                    {"Direction": 1, "Expression": {"Column": {"Property": "o_orderkey"}}},
                ],
                "Binding": {
                    "DataReduction": {
                        "Primary": {
                            "Window": {
                                "Count": 500,
                                "RestartTokens": [
                                    ["datetime'1996-06-15T00:00:00'", "100L"]
                                ],
                            }
                        }
                    }
                },
            }
        }
        return ir.to_dataframe(spark, query, sf_dir=sf)

    q["q39_ir_keyset_scan"] = q39_ir_keyset_scan

    def q40_ir_group_agg(spark, sf):
        from crawler_tjce_spark.plans import ir

        query = {
            "Query": {
                "From": [{"Name": "l", "Entity": "lineitem"}],
                "Select": [
                    {"Column": {"Property": "l_returnflag"}, "Name": "l_returnflag"},
                    {
                        "Aggregation": {
                            "Expression": {"Column": {"Property": "l_quantity"}},
                            "Function": 0,
                        },
                        "Name": "sum_qty",
                    },
                    {
                        "Aggregation": {
                            "Expression": {"Column": {"Property": "l_extendedprice"}},
                            "Function": 3,
                        },
                        "Name": "min_price",
                    },
                    {
                        "Aggregation": {
                            "Expression": {"Column": {"Property": "l_orderkey"}},
                            "Function": 2,
                        },
                        "Name": "n",
                    },
                ],
                "Where": [
                    {
                        "Condition": {
                            "Comparison": {
                                "ComparisonKind": 4,
                                "Left": {"Column": {"Property": "l_quantity"}},
                                "Right": {"Literal": {"Value": "40L"}},
                            }
                        }
                    }
                ],
            }
        }
        df = ir.to_dataframe(spark, query, sf_dir=sf)
        return df.select(
            "l_returnflag",
            F.round("sum_qty", 2).alias("sum_qty"),
            F.round("min_price", 2).alias("min_price"),
            "n",
        )

    q["q40_ir_group_agg"] = q40_ir_group_agg

    return q


# ===========================================================================
# oracle SQL (DuckDB dialect, over pre-registered parquet views)
# ===========================================================================

def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q01_pushdown_agg"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    o["q02_filter_in"] = """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND year(o_orderdate) = 1995
        GROUP BY o_orderstatus
    """

    o["q03_range_filter"] = """
        SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 30 AND l_extendedprice < 20000
    """

    o["q04_validity_filter"] = """
        SELECT lang, count(*) AS n FROM documents
        WHERE length(text) >= 100 AND lang IS NOT NULL
        GROUP BY lang
    """

    o["q05_prefix_filter"] = """
        SELECT source, count(*) AS n FROM documents
        WHERE source NOT LIKE 'src1%' GROUP BY source
    """

    o["q06_min_probe"] = """
        SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n FROM events
    """

    o["q07_distinct_sorted"] = """
        SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """

    o["q17_count_distinct"] = """
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """

    o["q16_rollup"] = """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    o["q08_topk_per_group"] = """
        SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders) WHERE rk <= 3
    """

    o["q09_global_ordem"] = """
        SELECT row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS ordem, o_orderkey
        FROM orders WHERE year(o_orderdate) = 1995
    """

    o["q10_fill_forward"] = """
        SELECT event_id, round(last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
        FROM (SELECT event_id, user_id, ts,
                     CASE WHEN value < 0.2 THEN NULL ELSE value END AS v
              FROM events)
    """

    o["q36_sessionize"] = """
        WITH g AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600 * 1000000
                      THEN 1 ELSE 0 END AS newsess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id,
                 sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
          FROM g)
        SELECT user_id,
               CAST(max(session_id) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id
    """

    o["q15_sort_desc_limit"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """

    o["q13_anti_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """

    o["q14_broadcast_join"] = """
        SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 6) AS avg_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r_name
    """

    o["q18_ptbr_money"] = """
        SELECT l_returnflag, round(sum(round(l_extendedprice, 2)), 2) AS sum_parsed,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """

    o["q19_excel_dates"] = """
        SELECT year(o_orderdate) AS yr, count(*) AS n FROM orders GROUP BY yr
    """

    o["q20_processo_pad"] = """
        SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 20, '0') AS processo
        FROM orders WHERE o_orderkey <= 200
    """

    o["q21_cnj_regex"] = r"""
        SELECT regexp_matches(proc, '^\d{7}-\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}$') AS is_cnj,
               count(*) AS n
        FROM (SELECT CASE WHEN l_linenumber % 2 = 0
                     THEN printf('%07d-%02d.2024.8.06.%04d',
                                 l_orderkey % 10000000, l_suppkey % 100, l_partkey % 10000)
                     ELSE 'proc-' || CAST(l_orderkey AS VARCHAR) END AS proc
              FROM lineitem)
        GROUP BY is_cnj
    """

    o["q22_slugify"] = r"""
        SELECT c_custkey,
               trim(regexp_replace(regexp_replace(lower(c_name), '[^a-z0-9\s-]', '', 'g'),
                                   '[-\s]+', '-', 'g'), '-') AS slug
        FROM customer WHERE c_custkey <= 100
    """

    o["q52_hash64_neardup"] = """
        WITH fp AS (
          SELECT doc_id,
            (CAST('0x'||substr(md5(text),1,4) AS BIGINT) % 32768) * 281474976710656
            + CAST('0x'||substr(md5(CAST(CAST(floor(n_chars/200) AS BIGINT) AS VARCHAR)),1,4)
                   AS BIGINT) * 4294967296
            + CAST('0x'||substr(md5(coalesce(source,'')),1,4) AS BIGINT) * 65536
            + CAST('0x'||substr(md5(coalesce(lang,'')),1,4) AS BIGINT) AS h
          FROM documents
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        ) WHERE hamming <= 3
    """

    o["q53_cuckoo_prefilter"] = """
        WITH u AS (
          SELECT doc_id,
                 'https://docs.example/' || coalesce(lang,'') || '/'
                   || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        )
        SELECT doc_id, url FROM u
        WHERE url NOT IN (SELECT url FROM u WHERE doc_id % 3 = 0)
    """

    o["q24_json_extract"] = """
        SELECT event_type,
               round(sum(coalesce(try_cast(json_extract_string(props, '$.k') AS DOUBLE), 0.0)),
                     2) AS sum_k,
               count(*) AS n
        FROM events GROUP BY event_type
    """

    o["q25_token_stats"] = r"""
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
                 AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                 AS bpe_tokens
        FROM documents
    """

    o["q26_quality"] = rf"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
                   AS toks,
                 length(text) AS nch,
                 length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS npunct
          FROM documents)
        SELECT doc_id,
               round(0.4 * least(1.0, len(toks) / 100.0)
                   + 0.3 * (1.0 - CASE WHEN nch > 0 THEN npunct * 1.0 / nch ELSE 0.0 END)
                   + 0.3 * least(1.0, 5.0 * CASE WHEN len(toks) > 0
                       THEN len(list_filter(toks, x -> x IN {STOP_SQL})) * 1.0 / len(toks)
                       ELSE 0.0 END), 6) AS quality
        FROM t
    """

    o["q27_fingerprint"] = r"""
        SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    """

    o["q34_langid"] = r"""
        WITH c AS (
          SELECT lower(text) AS s FROM documents
        ), scored AS (
          SELECT len(regexp_extract_all(s, '[\x{4e00}-\x{9fff}]')) AS zh,
                 len(regexp_extract_all(s, '\b(der|die|das|und|ist|nicht|ein)\b'))
                   + len(regexp_extract_all(s, '[äöüß]')) AS de,
                 len(regexp_extract_all(s, '\b(el|la|los|las|que|de|es|un|una)\b'))
                   + len(regexp_extract_all(s, '[ñ¡¿]')) AS es,
                 len(regexp_extract_all(s, '\b(the|and|is|of|to|that|it)\b')) AS en
          FROM c)
        SELECT CASE WHEN greatest(zh, de, es, en) = 0 THEN 'other'
                    WHEN zh = greatest(zh, de, es, en) THEN 'zh'
                    WHEN en = greatest(zh, de, es, en) THEN 'en'
                    WHEN de = greatest(zh, de, es, en) THEN 'de'
                    ELSE 'es' END AS lang_pred,
               count(*) AS n
        FROM scored GROUP BY lang_pred
    """

    o["q28_dedup_exact"] = r"""
        SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
    """

    # Exact Jaccard via shingle equi-join (|A∩B| = matched-shingle count;
    # |A∪B| = |A|+|B|−|A∩B|) — identical math to the old all-pairs
    # list_intersect form but a parallel hash join instead of a
    # single-threaded O(N²) nested loop (~40× faster at sf0.1 in DuckDB).
    _JACCARD_CTE = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t
          FROM documents
        ), sharr AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                      ELSE list_transform(range(1, len(t) - 1),
                                          i -> array_to_string(t[i:i+2], ' ')) END) AS s
          FROM toks
        ), sh AS (
          SELECT doc_id, unnest(s) AS g FROM sharr
        ), sz AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), scored AS (
          SELECT id_a, id_b, c * 1.0 / (za.n + zb.n - c) AS jac
          FROM shared JOIN sz za ON shared.id_a = za.doc_id
                      JOIN sz zb ON shared.id_b = zb.doc_id
        )
    """
    o["q33_ngram_jaccard"] = _JACCARD_CTE + """
        SELECT id_a, id_b, round(jac, 6) AS jaccard FROM scored WHERE jac >= 0.5
    """

    o["q29_emb_topk"] = """
        SELECT q.vec_id AS query_id, e.vec_id, row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id)
               AS rk
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 3
        QUALIFY rk <= 5
    """

    o["q30_emb_neardup"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
    """

    # q50: full independent simulation of the ANN-fronted near-dup — the
    # augmented corpus (negate-first-coordinate copies), all 4 tables'
    # seeded hyperplanes as literals, per-table bucket equi-joins
    # (unioned, NOT an OR-join: DuckDB would nested-loop an OR), then
    # the exact-cosine verify at the same threshold.
    from crawler_tjce_spark.operators.similarity import hyperplanes as _hp50

    def _bkt50(t: int) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(e, [{', '.join(repr(float(x)) for x in p)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(_hp50(64, 8, seed=42 + t))
        )

    _tbl_joins = "\n          UNION\n".join(
        f"          SELECT a.vec_id AS ia, t.vec_id AS ib FROM b a "
        f"JOIN b t ON a.b{t} = t.b{t} AND a.vec_id < t.vec_id"
        for t in range(4)
    )
    o["q50_emb_neardup_ann"] = f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, list_prepend(-e[1], e[2:])
          FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        ), b AS (
          SELECT vec_id, e,
                 ({_bkt50(0)}) AS b0,
                 ({_bkt50(1)}) AS b1,
                 ({_bkt50(2)}) AS b2,
                 ({_bkt50(3)}) AS b3
          FROM base
        ), cand AS (
{_tbl_joins}
        )
        SELECT DISTINCT c.ia AS id_a, c.ib AS id_b
        FROM cand c
        JOIN base x ON c.ia = x.vec_id
        JOIN base y ON c.ib = y.vec_id
        WHERE list_cosine_similarity(x.e, y.e) >= 0.8
    """

    # q31: the MinHash+LSH pipeline exact-verifies every candidate and its
    # banding recall is 100% on this corpus (verified at 3 SFs), so the
    # oracle is simply the EXACT Jaccard pair set (same shingles as q33) —
    # the driver's hash gate thus checks both soundness and recall.
    o["q31_minhash_pairs"] = _JACCARD_CTE + """
        SELECT id_a, id_b FROM scored WHERE jac >= 0.5
    """

    # q32: full independent SimHash simulation. The md5-derived token hash
    # (bits 0-31 from hex chars 1-8, 32-63 from chars 9-16) is computed
    # natively by DuckDB, then the same ±1 bit votes, sign packing, and
    # all-pairs hamming≤3 filter — value-for-value against the Spark
    # pipeline (whose banding is an exact pigeonhole cover, not a recall
    # approximation).
    _votes = ",\n                 ".join(
        f"sum(CASE WHEN (h{1 if b < 32 else 2} >> {b if b < 32 else b - 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    _bits = ",\n                 ".join(
        f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END AS b{b}" for b in range(64)
    )
    _hamm = " + ".join(f"CASE WHEN a.b{b} <> b.b{b} THEN 1 ELSE 0 END" for b in range(64))
    o["q32_simhash_pairs"] = rf"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_transform(
                   list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                   x -> lower(x))) AS t
          FROM documents
        ), h AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h1,
                 CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS h2
          FROM toks
        ), v AS (
          SELECT doc_id,
                 {_votes}
          FROM h GROUP BY doc_id
        ), s AS (
          SELECT doc_id,
                 {_bits}
          FROM v
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST({_hamm} AS INTEGER) AS hamming
          FROM s a JOIN s b ON a.doc_id < b.doc_id
        ) WHERE hamming <= 3
    """

    # q37: full independent sign-LSH simulation — the seeded hyperplanes
    # are serialized into the SQL and DuckDB recomputes bucket ids, the
    # bucket equi-join, and the in-bucket exact cosine top-k.
    from crawler_tjce_spark.operators.similarity import hyperplanes as _hp

    _planes = _hp(64, 4)
    _bkt_terms = " + ".join(
        f"CASE WHEN list_dot_product(e, [{', '.join(repr(float(x)) for x in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(_planes)
    )
    o["q37_emb_topk_lsh"] = f"""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 ({_bkt_terms}) AS bkt
          FROM embeddings
        )
        SELECT q.vec_id AS query_id, t.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(t.e, q.e) DESC, t.vec_id) AS rk
        FROM b t JOIN b q ON t.bkt = q.bkt AND q.vec_id < 3
        QUALIFY rk <= 5
    """

    # q47: independent re-computation of the deterministic retry model —
    # same md5 probe, same tenacity wait_exponential(mult=1, min=4,
    # max=10) schedule: waits 4 s then 4 s (2^1 and 2^2 clamp to min).
    o["q47_fetch_lineage"] = """
        WITH u AS (
          SELECT o_orderkey,
                 'https://h' || (o_orderkey % 50) || '.example/o/' || o_orderkey AS url,
                 'h' || (o_orderkey % 50) || '.example' AS host
          FROM orders
        ), p AS (
          SELECT o_orderkey, url,
                 CASE WHEN CAST('0x' || substr(md5(host), 1, 6) AS BIGINT) % 100 < 20
                      THEN 50 ELSE 0 END AS pct
          FROM u
        ), f AS (
          SELECT o_orderkey,
                 CAST('0x' || substr(md5(url || '#1'), 1, 6) AS BIGINT) % 100 < pct AS f1,
                 CAST('0x' || substr(md5(url || '#2'), 1, 6) AS BIGINT) % 100 < pct AS f2,
                 CAST('0x' || substr(md5(url || '#3'), 1, 6) AS BIGINT) % 100 < pct AS f3
          FROM p
        )
        SELECT o_orderkey,
               CAST(CASE WHEN NOT f1 THEN 1 WHEN NOT f2 THEN 2 ELSE 3 END AS INTEGER)
                 AS fetch_attempts,
               CASE WHEN f1 AND f2 AND f3 THEN 'error' ELSE 'ok' END AS fetch_status,
               CAST(CASE WHEN NOT f1 THEN 0 WHEN NOT f2 THEN 4 ELSE 8 END AS INTEGER)
                 AS backoff_total_s
        FROM f
    """

    # q38: independent DuckDB re-implementation of the DSR wire decode
    # (ref crawler/crawler.py:856-917 semantics): R-mask delta
    # inheritance (row 0 = all-new, missing R = inherit-all), C values
    # consumed in unmasked-column order (pos = col − popcount(mask
    # below col)), short-C keeps the inherited value, ValueDicts
    # resolution with out-of-range indices inheriting, then the same
    # field coercions. Anchored to server truth: the fixture's RT
    # restart token pins the 500th decoded row exactly.
    o["q38_dsr_decode"] = """
        WITH j AS (
          SELECT content::JSON v
          FROM read_text('/root/reference/examples/response.json')
        ), ds AS (
          SELECT json_extract(v, '$.results[0].result.data.dsr.DS[0]') d FROM j
        ), rws AS (
          SELECT i AS row_idx,
                 json_extract(d, '$.PH[0].DM0[' || i || '].C') AS c,
                 json_extract(d, '$.PH[0].DM0[' || i || '].R') AS r,
                 d
          FROM ds, generate_series(0, 9999) AS t(i)
          WHERE i < CAST(json_array_length(json_extract(d, '$.PH[0].DM0')) AS INT)
        ), m AS (
          SELECT row_idx, c, d,
                 CASE WHEN row_idx = 0 THEN 0
                      WHEN r IS NULL THEN 1023
                      ELSE CAST(r AS INT) END AS mask
          FROM rws
        ), cells AS (
          SELECT row_idx, col, d, c, mask,
                 CAST(json_array_length(c) AS INT) AS clen,
                 CASE WHEN (mask >> col) & 1 = 1 THEN NULL
                      ELSE col - bit_count(mask & ((1 << col) - 1)) END AS pos
          FROM m, generate_series(0, 9) t(col)
        ), newvals AS (
          SELECT row_idx, col, d,
                 pos IS NOT NULL AND pos < clen AS has_new,
                 CASE WHEN pos IS NOT NULL AND pos < clen
                      THEN json_extract(c, '$[' || pos || ']') END AS raw
          FROM cells
        ), resolved AS (
          SELECT row_idx, col,
                 CASE WHEN NOT has_new THEN FALSE
                      WHEN col IN (0, 2) AND json_type(raw) IN ('BIGINT', 'UBIGINT')
                           AND NOT (TRY_CAST(raw AS BIGINT) >= 0 AND TRY_CAST(raw AS BIGINT) <
                                    CAST(json_array_length(d, CASE col WHEN 0 THEN '$.ValueDicts.D0'
                                                                 ELSE '$.ValueDicts.D1' END) AS BIGINT))
                        THEN FALSE
                      ELSE TRUE END AS has_val,
                 CASE WHEN col = 0 AND json_type(raw) IN ('BIGINT', 'UBIGINT')
                        THEN json_extract_string(d, '$.ValueDicts.D0[' || TRY_CAST(raw AS BIGINT) || ']')
                      WHEN col = 2 AND json_type(raw) IN ('BIGINT', 'UBIGINT')
                        THEN json_extract_string(d, '$.ValueDicts.D1[' || TRY_CAST(raw AS BIGINT) || ']')
                      ELSE json_extract_string(raw, '$') END AS val
          FROM newvals
        ), filled AS (
          SELECT row_idx, col, val,
                 SUM(CASE WHEN has_val THEN 1 ELSE 0 END)
                   OVER (PARTITION BY col ORDER BY row_idx) AS grp
          FROM resolved
        ), ff AS (
          SELECT row_idx, col,
                 FIRST_VALUE(val) OVER (PARTITION BY col, grp ORDER BY row_idx) AS v
          FROM filled
        ), wide AS (
          SELECT row_idx,
                 MAX(CASE WHEN col = 6 THEN v END) AS ordem_s,
                 MAX(CASE WHEN col = 0 THEN v END) AS processo_s,
                 MAX(CASE WHEN col = 1 THEN v END) AS ano_s,
                 MAX(CASE WHEN col = 2 THEN v END) AS natureza_s,
                 MAX(CASE WHEN col = 5 THEN v END) AS valor_s
          FROM ff GROUP BY row_idx
        )
        SELECT CAST(row_idx AS INT) AS row_idx,
               CAST(CAST(ordem_s AS DOUBLE) AS BIGINT) AS ordem,
               regexp_replace(trim(processo_s), '[^A-Za-z0-9.\\-]', '', 'g') AS processo,
               CAST(CAST(ano_s AS DOUBLE) AS BIGINT) AS ano_orcamento,
               CASE WHEN natureza_s IS NULL OR trim(natureza_s) = ''
                         OR lower(trim(natureza_s)) = 'none'
                    THEN '-' ELSE trim(natureza_s) END AS natureza,
               round(CAST(valor_s AS DOUBLE), 2) AS valor_original
        FROM wide
    """

    # q51: independent duration-histogram simulation — same md5 probes,
    # same per-attempt duration model (0.08 + 0.02·probe(url#di), left-
    # associated sum so doubles are bit-identical), same cumulative
    # prometheus buckets; the cross join against the bucket edges is the
    # SQL twin of the Spark explode.
    o["q51_duration_hist"] = """
        WITH u AS (
          SELECT 'https://h' || (o_orderkey % 50) || '.example/o/' || o_orderkey AS url,
                 'h' || (o_orderkey % 50) || '.example' AS host
          FROM orders
        ), p AS (
          SELECT url, host,
                 CASE WHEN CAST('0x' || substr(md5(host), 1, 6) AS BIGINT) % 100 < 20
                      THEN 50 ELSE 0 END AS pct
          FROM u
        ), f AS (
          SELECT url, host,
                 CAST('0x' || substr(md5(url || '#1'), 1, 6) AS BIGINT) % 100 < pct AS f1,
                 CAST('0x' || substr(md5(url || '#2'), 1, 6) AS BIGINT) % 100 < pct AS f2
          FROM p
        ), a AS (
          SELECT url, host,
                 CASE WHEN NOT f1 THEN 1 WHEN NOT f2 THEN 2 ELSE 3 END AS att
          FROM f
        ), d AS (
          -- every literal cast DOUBLE: DuckDB otherwise infers DECIMAL
          -- arithmetic, which breaks bit-parity with Spark's doubles
          SELECT host,
                 (CAST(0.0 AS DOUBLE) + (CAST(0.08 AS DOUBLE)
                   + CAST(CAST('0x' || substr(md5(url || '#d1'), 1, 6) AS BIGINT) % 100 AS DOUBLE)
                     * CAST(0.02 AS DOUBLE)))
                 + (CASE WHEN att >= 2
                    THEN CAST(0.08 AS DOUBLE)
                      + CAST(CAST('0x' || substr(md5(url || '#d2'), 1, 6) AS BIGINT) % 100 AS DOUBLE)
                        * CAST(0.02 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END)
                 + (CASE WHEN att >= 3
                    THEN CAST(0.08 AS DOUBLE)
                      + CAST(CAST('0x' || substr(md5(url || '#d3'), 1, 6) AS BIGINT) % 100 AS DOUBLE)
                        * CAST(0.02 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END) AS dur
          FROM a
        )
        SELECT host, le,
               CAST(sum(CASE WHEN le = CAST('infinity' AS DOUBLE) OR dur <= le
                             THEN 1 ELSE 0 END) AS BIGINT) AS bucket_count,
               CAST(round(sum(dur), 6) AS DOUBLE) AS duration_sum
        FROM d CROSS JOIN (
          VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                 (CAST(1.0 AS DOUBLE)), (CAST(2.0 AS DOUBLE)),
                 (CAST(5.0 AS DOUBLE)), (CAST(10.0 AS DOUBLE)),
                 (CAST('infinity' AS DOUBLE))
        ) b(le)
        GROUP BY host, le
    """

    o["q48_api_filters"] = """
        SELECT o_orderkey AS ordem,
               CAST(year(o_orderdate) AS BIGINT) AS ano_orcamento,
               round(o_totalprice, 2) AS valor_atual
        FROM orders
        WHERE year(o_orderdate) >= 1994 AND year(o_orderdate) <= 1996
          AND o_totalprice >= 120000.0
          AND lower(o_orderpriority) = lower('2-high')
    """

    # q49: hand-translated specification of the two literal robots bodies
    # (h0: exact-agent group, Allow longer than Disallow wins on
    # /private/pub*.html; h1: '*' group, $-anchored *.pdf + /tmp prefix;
    # h2: no robots → allow). Independent of the Spark parser/matcher.
    o["q49_robots_match"] = r"""
        WITH u AS (
          SELECT o_orderkey,
                 'h' || (o_orderkey % 3) || '.example' AS host,
                 CASE
                   WHEN o_orderkey % 5 = 0 THEN '/private/doc.html'
                   WHEN o_orderkey % 5 = 1 THEN '/private/pub' || o_orderkey || '.html'
                   WHEN o_orderkey % 5 = 2 THEN '/a/' || o_orderkey || '.pdf'
                   WHEN o_orderkey % 5 = 3 THEN '/tmp/' || o_orderkey
                   ELSE '/ok/' || o_orderkey
                 END AS path
          FROM orders
        )
        SELECT o_orderkey,
               CASE
                 WHEN host = 'h0.example' THEN
                   CASE WHEN regexp_matches(path, '^/private/pub.*\.html')
                        THEN TRUE
                        WHEN regexp_matches(path, '^/private/')
                        THEN FALSE
                        ELSE TRUE END
                 WHEN host = 'h1.example' THEN
                   CASE WHEN regexp_matches(path, '^/.*\.pdf$') THEN FALSE
                        WHEN regexp_matches(path, '^/tmp') THEN FALSE
                        ELSE TRUE END
                 ELSE TRUE
               END AS robots_ok
        FROM u
    """

    # q46: full independent IVF simulation with the same sample-initialized
    # quantizer (cells = embeddings of vec_id<8): argmin assignment,
    # nprobe=3 probing (ties → cell id), in-cell exact cosine top-k.
    o["q46_emb_topk_ivf"] = """
        WITH c AS (
          SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 8
        ), ad AS (
          SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.cell,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_distance(v.embedding::DOUBLE[], c.cv), c.cell) AS rn
          FROM embeddings v CROSS JOIN c
        ), assigned AS (
          SELECT vec_id, e, cell FROM ad WHERE rn = 1
        ), probes AS (
          SELECT vec_id AS query_id, e AS qe, cell FROM ad
          WHERE vec_id < 3 AND rn <= 3
        )
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(a.e, p.qe) DESC, a.vec_id) AS rk
        FROM assigned a JOIN probes p ON a.cell = p.cell
        QUALIFY rk <= 5
    """

    o["q41_pivot"] = """
        SELECT l_returnflag,
               round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 2)
                 AS qty_open,
               round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 2)
                 AS qty_filled
        FROM lineitem GROUP BY l_returnflag
    """

    o["q42_cube"] = """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    o["q43_asof_join"] = """
        SELECT year(o.o_orderdate) AS yr, count(*) AS n
        FROM lineitem l ASOF JOIN (SELECT DISTINCT o_orderdate FROM orders) o
          ON l.l_shipdate >= o.o_orderdate
        GROUP BY yr
    """

    o["q44_percentiles"] = """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        FROM lineitem GROUP BY l_returnflag
    """

    o["q45_unpivot"] = """
        SELECT measure, round(sum(value), 2) AS total, count(*) AS n
        FROM (
          SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT 'extendedprice', l_extendedprice FROM lineitem)
        GROUP BY measure
    """

    o["q39_ir_keyset_scan"] = """
        SELECT o_orderkey, o_orderdate FROM orders
        WHERE o_orderdate > TIMESTAMP '1996-06-15'
           OR (o_orderdate = TIMESTAMP '1996-06-15' AND o_orderkey > 100)
        ORDER BY o_orderdate, o_orderkey LIMIT 500
    """

    o["q40_ir_group_agg"] = """
        SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
               round(min(l_extendedprice), 2) AS min_price,
               count(l_orderkey) AS n
        FROM lineitem WHERE l_quantity <= 40
        GROUP BY l_returnflag
    """

    # Fused politeness pick + analytic-offset ordem (the runner's exact
    # operator, plans/frontier.py:politeness_pick_ordem): picked set is
    # per-host top-budget by (score desc, url asc); ordem = 1000 (resume
    # offset) + cumulative least(host_count, budget) offsets by host asc
    # + within-host rank — equivalent, over the picked set, to a global
    # row_number ordered by (host, score desc, url).
    o["q35_frontier_pick"] = """
        WITH fr AS (
          SELECT 'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                 source || '-h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                 CAST(n_chars AS INT) AS score
          FROM documents
        ), fb AS (
          SELECT url, host, score,
                 CAST(2 + (length(host) % 4) AS INT) AS host_budget
          FROM fr
        ), ranked AS (
          SELECT url, host, score, host_budget,
                 row_number() OVER (PARTITION BY host ORDER BY score DESC, url) AS rk
          FROM fb
        )
        SELECT 1000 + row_number() OVER (ORDER BY host, score DESC, url) AS ordem,
               url, host, score, host_budget
        FROM ranked WHERE rk <= host_budget
    """

    return o
