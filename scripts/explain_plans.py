"""Dump the physical plans of the engine's key pipelines to EXPLAIN.md
— the `.explain("formatted")` evidence for plan-hygiene claims
(pushdown, pruning, whole-stage codegen, join shapes, partial
aggregation). Run at sf0.01 so AQE shapes are realistic.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from crgp_spark.derive import derive_edge_turns, derive_edges
    from crgp_spark.generator import transcripts_from_events
    from crgp_spark.operators.dedup import minhash_signatures
    from crgp_spark.operators.pagerank import vertex_universe
    from crgp_spark.config import EngineConfig
    from crgp_spark.session import get_spark

    spark = get_spark("explain", cpus=8, shuffle_partitions=32)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t = transcripts_from_events(events)
    cfg = EngineConfig(shuffle_partitions=32)

    sections = {
        "Derivation: transcripts -> influence edges (one logical query; "
        "Catalyst chooses the GALE/LEAF physical shape)": derive_edge_turns(t),
        "Derivation with a pushed-down conv filter (PushedFilters + "
        "pruned ReadSchema)": derive_edge_turns(
            t.filter(F.col("conv_id") == "u3")
        ),
        "Edge table in vid form": derive_edges(t),
        "Vertex universe (map-side combinable distinct)": vertex_universe(
            derive_edges(t).select("src", "dst"), cfg
        ),
        "MinHash signatures (shingle explode -> min-agg; one shuffle)":
            minhash_signatures(docs, n_hashes=4),
    }

    # Relational (TPC-H-shape) family — pushdown + broadcast-vs-SMJ
    # choices are the whole point here (VERDICT r1 asked for this
    # EXPLAIN section alongside the driver entries).
    from crgp_spark.operators import relational as rel

    tbl = {
        n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        for n in ("lineitem", "orders", "customer", "part", "supplier",
                  "nation", "region")
    }
    sections.update({
        "TPC-H Q1 shape: scan-agg with shipdate PushedFilter, partial "
        "aggregation before the exchange": rel.pricing_summary(tbl["lineitem"]),
        "TPC-H Q3 shape: broadcast dim + shuffle join on orderkey + "
        "TakeOrderedAndProject top-k": rel.topk_unshipped_orders(
            tbl["customer"], tbl["orders"], tbl["lineitem"]),
        "TPC-H Q5 shape: 6-way snowflake, dims broadcast, one big "
        "shuffle": rel.region_revenue(
            tbl["customer"], tbl["orders"], tbl["lineitem"],
            tbl["supplier"], tbl["nation"], tbl["region"]),
        "Semi+anti join (lapsed customers)": rel.lapsed_customers(
            tbl["customer"], tbl["orders"]),
        "Correlated per-group avg via exact cross-multiply (Q17 shape)":
            rel.small_quantity_revenue(tbl["lineitem"], tbl["part"]),
        "EXISTS as left-semi join (Q4 shape)":
            rel.returned_priority_counts(tbl["orders"], tbl["lineitem"]),
        "EXISTS + NOT EXISTS as semi+anti joins on the fact table "
        "(Q21 shape)": rel.sole_blame_suppliers(
            tbl["supplier"], tbl["orders"], tbl["lineitem"]),
        "COUNT(DISTINCT) partial-distinct aggregate + NOT-IN anti-join "
        "(Q16 shape)": rel.part_supplier_counts(
            tbl["lineitem"], tbl["part"], tbl["supplier"]),
        "Scalar-subquery threshold via broadcast 1-row cross-join "
        "(Q11 shape)": rel.important_parts(
            tbl["lineitem"], tbl["supplier"], tbl["nation"]),
        "Correlated-min subquery decorrelated to agg + join-back "
        "(Q2 shape)": rel.cheapest_supplier_per_part(
            tbl["lineitem"], tbl["supplier"], tbl["part"], tbl["nation"]),
        "Band-predicate scan-agg, no join at all (Q6 shape)":
            rel.revenue_forecast(tbl["lineitem"]),
        "Two-nation bidirectional volume: pre-filtered 2-row dims "
        "(Q7 shape)": rel.nation_trade_volume(
            tbl["customer"], tbl["orders"], tbl["lineitem"],
            tbl["supplier"], tbl["nation"]),
        "Market share: one conditional aggregate for numerator and "
        "denominator (Q8 shape)": rel.market_share(
            tbl["customer"], tbl["orders"], tbl["lineitem"],
            tbl["supplier"], tbl["nation"], tbl["region"], tbl["part"]),
        "Returned-item customers: fact-side filters + broadcast dims + "
        "top-k (Q10 shape)": rel.returned_item_customers(
            tbl["customer"], tbl["orders"], tbl["lineitem"], tbl["nation"]),
        "HAVING-subquery group filter broadcast back (Q18 shape)":
            rel.large_quantity_orders(
                tbl["customer"], tbl["orders"], tbl["lineitem"]),
        "Disjunctive brand/size/qty clauses pushed down both join sides "
        "(Q19 shape)": rel.disjunctive_brand_revenue(
            tbl["lineitem"], tbl["part"]),
    })

    from crgp_spark.operators.graphstats import degree_histogram, graph_summary
    from crgp_spark.operators.quantiles import value_quantiles
    from crgp_spark.operators.textstats import ngram_topk, tfidf_topk

    docs2 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    e_vid = derive_edges(t).select("src", "dst")
    sections.update({
        "Degree histogram: two map-side-combinable aggregates, outer "
        "join for the 0 bucket": degree_histogram(e_vid),
        "Corpus n-gram top-k: scan-side explode, partial count, "
        "TakeOrderedAndProject": ngram_topk(docs2),
        "Q15 shape: scalar-max over a revenue view via broadcast 1-row "
        "cross-join (no re-scan)": rel.top_revenue_suppliers(
            tbl["lineitem"], tbl["supplier"]),
        "Graph summary: exact BIGINT moments, degrees joined to both "
        "endpoints, one final 1-row project": graph_summary(e_vid),
        "TF-IDF top-k: explode + two partial-agg groupBys, corpus size "
        "as broadcast 1-row cross-join, per-doc (partitioned) window":
            tfidf_topk(docs2),
        "Exact grouped percentiles (sort-based percentile aggregate, "
        "map-side partial)": value_quantiles(events),
    })

    from crgp_spark.operators.curation import decontaminate, repetition_stats
    from crgp_spark.operators.linkpred import top_predicted_links
    from crgp_spark.operators.sample import hash_sample

    bench_ids = hash_sample(docs2, "doc_id", 10).select("doc_id")
    sections.update({
        "Decontamination: scan-side gram explode + broadcast semi-join "
        "against the benchmark gram set (no self-join)":
            decontaminate(docs2, bench_ids, n=4),
        "Repetition signals: per-gram partial-agg groupBys + partitioned "
        "top-1 window, shuffles on doc_id only":
            repetition_stats(docs2),
        "Link prediction top-k: wedge self-join on the shared neighbor, "
        "shuffle-hash state joins, rank-limit window (WindowGroupLimit)":
            top_predicted_links(e_vid, k=100, min_common=2),
    })

    from crgp_spark.operators.ktruss import edge_support

    und4 = e_vid.selectExpr(
        "least(src, dst) AS u", "greatest(src, dst) AS v"
    ).where("u <> v").distinct()
    sections.update({
        "k-truss edge support (one peel round): degree-oriented wedge "
        "join + triple explode + partial-agg support groupBy":
            edge_support(und4),
    })

    from crgp_spark.derive import prepare_turns
    from crgp_spark.operators.project import coparticipation

    sections.update({
        "Bipartite projection: distinct membership, conv-key self-join, "
        "partial-agg pair count": coparticipation(prepare_turns(t)),
    })

    from crgp_spark.operators.butterfly import butterfly_counts

    sections.update({
        "Butterfly counting: conv-key wedge self-join, BIGINT binomial "
        "per pair, endpoint explode + partial-agg per-vertex rollup":
            butterfly_counts(prepare_turns(t)),
    })

    from crgp_spark.operators.curation import redact_pii
    from crgp_spark.operators.featprop import neighborhood_mean
    from crgp_spark.operators.harmonic import cascade_harmonic
    from crgp_spark.operators.seqpack import sequence_pack

    e_conv = derive_edges(t).select("src", "dst", "conv_id")
    sections.update({
        "PII redaction: staged regexp count+mask chain, pure project at "
        "scan speed (no shuffle, no UDF)": redact_pii(docs2),
        "Sequence packing: token-count project + ONE shard-partitioned "
        "window prefix sum (no global sort)": sequence_pack(docs2),
        "Neighbor-mean feature propagation (2 hops): per-hop "
        "partial-agg groupBy(dst) + left join back, linear plan":
            neighborhood_mean(spark, e_vid, hops=2, cfg=cfg),
        "Harmonic centrality, cascade kernel path: single "
        "applyInPandas pass grouped by conversation":
            cascade_harmonic(spark, e_conv, radius=3, cfg=cfg),
    })

    from crgp_spark.operators.harmonic import closeness_bounded

    sections.update({
        "Closeness (Wasserman-Faust): BFS level sets + BIGINT "
        "reach/totdist project + 1-row broadcast n":
            closeness_bounded(spark, e_vid, radius=3, cfg=cfg),
    })

    from crgp_spark.operators.kmeans import kmeans_step

    embs2 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sections.update({
        "k-means step: broadcast k-row centroid cross-join (sanctioned "
        "BroadcastNestedLoopJoin, like the Q11 scalar) + partial-agg "
        "argmin + posexplode partial-agg update": kmeans_step(embs2, k=8),
    })

    from crgp_spark.operators.cohort import cohort_retention, funnel_counts
    from crgp_spark.operators.featprop import neighbor_sample

    sections.update({
        "Cohort retention: two partial-agg groupBys + two-stage "
        "COUNT(DISTINCT) Expand plan, shuffles on user_id only":
            cohort_retention(events),
        "Funnel: ONE groupBy(user_id) with per-stage conditional MINs "
        "(no self-joins), then a 1-row conditional count":
            funnel_counts(events),
        "Neighbor sampling: rank-limit window partitioned by src "
        "(WindowGroupLimit below the sort)": neighbor_sample(e_vid, fanout=3),
    })
    from crgp_spark.operators.betweenness import betweenness_seeded
    from crgp_spark.operators.curation import remove_boilerplate
    from crgp_spark.operators.pq import knn_pq

    sections.update({
        "Boilerplate removal: scan-side segmentation, partial-distinct "
        "segment groupBy, broadcast anti-join, doc_id-only reassembly "
        "shuffle": remove_boilerplate(docs2, seg_words=4, min_docs=2),
        "Sampled-pair betweenness: two sigma-counting BFS sweeps "
        "(per-level partial-agg SUM + anti-join), final vertex-key "
        "joins — all BIGINT": betweenness_seeded(
            spark, e_vid, n_seeds=8, radius=4, cfg=cfg
        ),
        "PQ ADC search: broadcast codebook assigns, m-codes/vector "
        "table joined to broadcast per-query LUT on (sub, code), "
        "partial-agg ADC sum, per-query (partitioned) top-k window":
            knn_pq(embs2, embs2.limit(16), k=5, m=4, n_codes=16),
    })

    from crgp_spark.operators.sssp import bounded_sssp
    from crgp_spark.operators.virality import structural_virality

    srcs0 = e_vid.groupBy(F.col("src").alias("vid")).count().select("vid").limit(64)
    sections.update({
        "Structural virality: cascade-kernel level counts + one "
        "broadcast vertex->conv join + map-side-combinable "
        "groupBy(conv_id)": structural_virality(
            spark, e_conv, radius=3, cfg=cfg
        ),
        "Bounded SSSP (Bellman-Ford, 4 rounds): per-round state join "
        "under state_hint + map-side-combinable MIN re-aggregation":
            bounded_sssp(
                spark,
                e_vid.withColumn("w", F.lit(1).cast("long")),
                srcs0,
                rounds=4,
                cfg=cfg,
            ),
    })

    from crgp_spark.operators.sketch import kmv_distinct

    sections.update({
        "KMV distinct sketch: distinct (group, hash) + rank-limit "
        "window (WindowGroupLimit prunes partitions to local top-k) + "
        "tiny per-group finisher": kmv_distinct(
            events, "event_type", "user_id", k=32
        ),
    })

    from crgp_spark.operators.fuzzy import fuzzy_pairs_ed1
    from crgp_spark.operators.layout import zorder_layout

    evz = events.select(
        "event_id",
        F.col("user_id").cast("long").alias("a"),
        (F.col("event_id") % 365).cast("long").alias("b"),
    )
    handles = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s")
    ).distinct()
    sections.update({
        "Z-order keys: pure bit-expression project at scan speed (no "
        "shuffle, no UDF, single WholeStageCodegen span)":
            zorder_layout(evz, "a", "b", "event_id"),
        "Fuzzy ed-1 join: deletion-variant explode + bucketed "
        "self-join on the variant key + levenshtein verify (never "
        "all-pairs)": fuzzy_pairs_ed1(handles),
    })

    from crgp_spark.operators.transitions import transition_counts

    sections.update({
        "Markov transition counts: ONE partitioned lag window "
        "(user_id shuffle only) + partial-agg groupBy + broadcast "
        "totals join": transition_counts(events),
    })

    from crgp_spark.operators.seqpack import chunk_documents
    from crgp_spark.operators.textstats import collocations

    sections.update({
        "RAG chunking: scan-speed window slicing (transform + slice + "
        "explode, no shuffle, no UDF)": chunk_documents(
            docs2, chunk_tokens=32, overlap=8
        ),
        "Collocation lift: two partial-agg gram counts, 1-row "
        "broadcast totals (Q11 idiom), unhinted vocabulary joins, "
        "TakeOrderedAndProject top-k": collocations(docs2),
    })

    from crgp_spark.operators.dedup import setsim_join

    sections.update({
        "Exact set-similarity join (AllPairs): df join + partitioned "
        "rank window, prefix-token self-join (rare keys by "
        "construction), candidate-bounded verify — never all-pairs":
            setsim_join(docs2, threshold=(9, 10)),
    })

    from crgp_spark.operators.bloomjoin import bloom_semi_join

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    )
    sections.update({
        "Bloom semi-join: probe scan -> n_hashes BROADCAST word-table "
        "joins + bit tests (map-side kill, zero probe-side exchange) "
        "-> exact semi-join over the surviving sliver":
            bloom_semi_join(lineitem, urgent, "l_orderkey", "o_orderkey"),
    })

    from crgp_spark.operators.attribution import attribute_conversions
    from crgp_spark.operators.profile import check_constraints, profile_table
    from crgp_spark.operators.scd import scd2_history

    sections.update({
        "SCD Type-2 history: ONE exchange+sort on the key serves both "
        "window passes (lag change-detect, lead interval-close) — no "
        "joins": scd2_history(
            events, "user_id", "ts", ["event_type"], order_cols=["event_id"]
        ),
        "Table profile: every column's nonnull/distinct/min/max in ONE "
        "scan (multi-distinct Expand, partial-agg, no join)":
            profile_table(events, ["event_id", "user_id", "event_type"]),
        "Quality checks: N conditional violation counts folded into "
        "one partial-agg scan": check_constraints(
            orders,
            [("orderkey_not_null", "o_orderkey IS NOT NULL"),
             ("total_positive", "o_totalprice > 0")],
        ),
        "Attribution: banded per-user interval join (one exchange per "
        "side) + map-side-combinable min_by/max_by rollup":
            attribute_conversions(events),
    })

    from crgp_spark.operators.histogram import hist_grouped_quantiles
    from crgp_spark.operators.skewjoin import salted_join
    from crgp_spark.operators.sketch import kmv_intersect, kmv_sketch
    from crgp_spark.operators.streaks import longest_streaks

    cust_renamed = spark.read.parquet(
        os.path.join(sf_dir, "customer.parquet")
    ).withColumnRenamed("c_custkey", "o_custkey")
    ev_even = events.where(F.col("event_id") % 2 == 0)
    ev_odd = events.where(F.col("event_id") % 2 == 1)
    sections.update({
        "Histogram quantile sketch: bucket expression at scan speed, "
        "partial-agg sparse counts, tiny per-group window finisher":
            hist_grouped_quantiles(
                events, "event_type", "value",
                [10.0, 25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0],
                [0.25, 0.5, 0.9],
            ),
        "Salted skew join: content-hash salt on the fact side, "
        "explode-replicated dim, join key (key, salt) spreads hot "
        "keys over n_salts shuffle partitions":
            salted_join(orders, cust_renamed, "o_custkey", n_salts=8),
        "Gaps-and-islands streaks: ONE key exchange serves rank "
        "window, day-dedup and island rollup": longest_streaks(events),
        "Theta-sketch intersection: two sketch builds (WindowGroupLimit "
        "top-k) + one equi-join on the group key, array intersection "
        "below theta": kmv_intersect(
            kmv_sketch(ev_even, "event_type", "user_id", 32),
            kmv_sketch(ev_odd, "event_type", "user_id", 32),
            32,
        ),
    })

    from crgp_spark.operators.diff import table_diff
    from crgp_spark.operators.encode import feature_hash, target_encode_loo
    from crgp_spark.operators.survivor import golden_records

    ev_new = events.where(F.col("event_id") % 13 != 0)
    sections.update({
        "LOO target encoding: one partition-only window on the "
        "category, integer-cents sums, single float division":
            target_encode_loo(events, "user_id", "value"),
        "Feature hashing: pure md5/pmod expression arrays at scan "
        "speed — no shuffle, no UDF":
            feature_hash(events, ["event_type", "user_id"], dim=64),
        "Survivorship merge: one cluster groupBy (max_by recency) + "
        "per-mode-field count groupBy folded back by a cluster join":
            golden_records(
                events, "user_id", "ts", ["event_id"],
                latest_cols=["event_type"], mode_cols=["event_type"],
            ),
        "Table diff: scan-side md5 fingerprints (shuffle carries a "
        "hash, not the record), ONE full-outer join, unchanged keys "
        "dropped": table_diff(events, ev_new, ["event_id"]),
    })

    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.diff import apply_changes

    _cdc_base = tbl["customer"].select(
        "c_custkey", "c_name", "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
        .alias("bal_cents"),
        "c_mktsegment",
    )
    _cdc_ch = events.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("c_name"),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        ts_micros(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
    )
    from crgp_spark.operators.bpetrain import bpe_train

    sections.update({
        "BPE merge-rule training (one merge shown): vocab-sized pair "
        "explode -> combinable groupBy(lhs, rhs) -> TakeOrdered top-1 "
        "-> broadcast rewrite (no corpus shuffle after the word "
        "frequency reduction)": bpe_train(docs, merges=1),
    })

    from crgp_spark.operators.bpetrain import bpe_encode

    _enc_rules = spark.createDataFrame(
        [(1, "t", "h"), (2, "th", "e")],
        "merge_round int, lhs string, rhs string",
    )
    sections.update({
        "BPE encode: broadcast 1-row rule array, JVM-side aggregate "
        "fold over the DISTINCT word table, words->vocab join + "
        "combinable per-doc count": bpe_encode(docs, _enc_rules),
    })

    from crgp_spark.operators.train import logistic_train

    sections.update({
        "Full-batch logistic training (one round's update shown): "
        "broadcast weights into the feature table, per-row residual, "
        "map-side-combinable gradient groupBy(j), broadcast update — "
        "the data never moves, the d-vector does":
            logistic_train(
                events.withColumn(
                    "y", (F.col("event_type") == "purchase").cast("int")
                ),
                ["event_type", "user_id"], "y", "event_id",
                dim=16, rounds=1,
            ),
    })

    sections.update({
        "CDC apply_changes: ONE key window reduces the changelog to "
        "its frontier, anti-join removes touched keys, union adds "
        "winning upserts — two key exchanges regardless of log length":
            apply_changes(_cdc_base, _cdc_ch,
                          key_cols=["c_custkey"],
                          order_cols=["v_us", "v_seq"]),
    })

    from crgp_spark.operators.anomaly import rolling_anomalies
    from crgp_spark.operators.compaction import compaction_plan

    sections.update({
        "Rolling anomalies: one key exchange, RANGE-frame integer "
        "sums sharing a single sort, BIGINT sigma test":
            rolling_anomalies(events),
        "Compaction plan: per-partition metadata window, chain "
        "packing with integer div": compaction_plan(
            docs, "doc_id", "n_chars", 4000, "lang"
        ),
    })

    from crgp_spark.operators.shard import rendezvous_assign

    sections.update({
        "Rendezvous sharding: HRW argmax as a pure array_max "
        "expression — scan speed, no explode, no shuffle":
            rendezvous_assign(docs, "doc_id", 8),
    })

    from crgp_spark.operators.cohort import adoption_curve
    from crgp_spark.operators.encode import rank_normalize

    sections.update({
        "Rank normalization: one group exchange, rank + count "
        "windows sharing the sort, single float division":
            rank_normalize(events, "event_type", "value"),
        "Adoption curve: two partial-agg groupBys + a day-grain "
        "(metadata-sized) running-sum window":
            adoption_curve(events),
    })

    from crgp_spark.functions import ts_micros as _tsus
    from crgp_spark.operators.discovery import (
        column_sketches,
        join_candidates,
    )
    from crgp_spark.operators.index import inverted_index
    from crgp_spark.operators.scd import scd2_history as _scd_hist
    from crgp_spark.operators.temporal import scd2_join

    dim_hist = _scd_hist(
        events, "user_id", "ts", ["event_type"], order_cols=["event_id"]
    )
    facts_ev = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", _tsus("ts").alias("us")
    )
    sections.update({
        "Effective-dated SCD2 join: band predicate inside one "
        "key-equi join, left join keeps pre-history facts":
            scd2_join(facts_ev, dim_hist, "user_id", "us"),
        "Join-key discovery: per-column WindowGroupLimit sketch "
        "builds, then all pair math on a one-row-per-column table "
        "(metadata-sized inequality join)": join_candidates(
            column_sketches(
                {"a.u": (events, "user_id"), "b.e": (events, "event_id")},
                k=64,
            ),
            k=64,
        ),
        "Inverted index: scan-side tokenize+posexplode, partial-agg "
        "counts, WindowGroupLimit postings cap, token-keyed join":
            inverted_index(docs, max_postings=16),
    })

    from crgp_spark.operators.index import keyword_search

    sections.update({
        "Conjunctive search: one groupBy(doc) of conditional counts "
        "(no per-term joins), HAVING-all filter, "
        "TakeOrderedAndProject":
            keyword_search(docs, ["join", "scan", "merge"], top_k=20),
    })

    from crgp_spark.operators.experiment import cuped_summary, srm_check

    sections.update({
        "CUPED readout: one groupBy(user) of integer conditional "
        "sums, 2-row arm rollup x 1-row broadcast theta (Q11 idiom)":
            cuped_summary(events, split_day=19726),
        "SRM check: distinct units, arm counts, metadata-sized "
        "chi-square window": srm_check(events),
    })

    # round-4 operators
    from crgp_spark.operators.inference import batch_inference
    from crgp_spark.operators.quantiles import value_quantiles_approx
    from crgp_spark.operators.transitions import succession_graph

    from crgp_spark.operators.graphstats import mixing_stats
    from crgp_spark.operators.temporalreach import temporal_edges

    sections.update({
        "Succession graph: one channel-partitioned LEAD window + "
        "map-side-combinable pair count":
            succession_graph(events, min_weight=3),
        "Temporal edges: pushed-down ts filter + the same bounded-"
        "channel LEAD window carrying the successor's epoch micros":
            temporal_edges(
                events.filter(
                    F.col("ts")
                    < F.lit("2024-01-02 00:00:00").cast("timestamp_ntz")
                )
            ),
        "Directed mixing stats: reverse-edge left join + two degree "
        "joins into ONE exact-moment aggregate, float ops last":
            mixing_stats(succession_graph(events, min_weight=3)),
        "Batched inference: hashed features (codegen) -> one "
        "Arrow-batched mapInPandas forward pass; NO Exchange anywhere":
            batch_inference(
                events, ["event_type", "user_id"], id_col="event_id"
            ),
        "Approx-percentile contract: one sketch groupBy + the "
        "(keys x pcts)-row result broadcast back over the scan for "
        "exact ranks": value_quantiles_approx(events),
    })

    from crgp_spark.operators.sampling import stratified_sample

    sections.update({
        "Stratified exact-quota sample: one combinable bucket count "
        "(metadata-sized), broadcast threshold join, per-row ranking "
        "only inside the boundary bucket": stratified_sample(
            docs.select("doc_id", "source"), ["source"], 10, "doc_id",
            n_buckets=16,
        ),
    })

    from crgp_spark.operators.semdedup import semantic_dedup

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sections.update({
        "SemDeDup: broadcast k-centroid assign -> ONE cluster-keyed "
        "self-join (the only exchange over pairs) -> DECIMAL(38,0) "
        "cross-multiplied cosine prune": semantic_dedup(
            embs, k=8, threshold=0.40
        ),
    })

    from crgp_spark.operators.cms import heavy_hitters

    sections.update({
        "Count-min heavy hitters: map-side-combinable d x w grid "
        "groupBy + broadcast-grid probe join (no probe shuffle)":
            heavy_hitters(events, "user_id", k=20),
    })

    from crgp_spark.operators.katz import katz as katz_op

    sections.update({
        "Katz centrality (1 round shown): edge-side partial-sum "
        "groupBy(dst) with map-side combine, state joins under the "
        "state_hint policy, exact BIGINT recurrence — normalization "
        "is one broadcast 1-row cross-join": katz_op(
            spark, derive_edges(t).select("src", "dst"), cfg,
            fixed_iterations=1,
        ),
    })

    from crgp_spark.operators.salsa import salsa as salsa_op

    sections.update({
        "SALSA (1 round shown): degrees joined once onto the static "
        "edge table, floor-division mass splits, one shuffle per "
        "half-round, state_hint joins": salsa_op(
            spark, derive_edges(t).select("src", "dst"), cfg,
            fixed_iterations=1,
        ),
    })

    from crgp_spark.operators.eigencent import eigenvector_centrality

    sections.update({
        "Eigenvector centrality (1 round shown): partial-sum "
        "groupBy(dst), broadcast 1-row max-rescale, state_hint joins":
            eigenvector_centrality(
                spark, derive_edges(t).select("src", "dst"), cfg,
                fixed_iterations=1,
            ),
    })

    from crgp_spark.operators.icsim import independent_cascade

    sections.update({
        "Independent-cascade live-edge filter (scan-side md5 coin in "
        "codegen, no shuffle) + one BFS frontier round":
            independent_cascade(
                spark, derive_edges(t).select("src", "dst"),
                p_num=3, p_den=10, n_seeds=20, rounds=1, cfg=cfg,
            ),
    })

    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.bursts import burst_detect
    from crgp_spark.operators.evalmetrics import roc_auc
    from crgp_spark.operators.sweepcut import sweep_cut
    from crgp_spark.operators.temporalpr import temporal_pagerank

    sections.update({
        "Temporal PageRank (2 levels shown): temporal wedge equi-join "
        "with scan-side t'<t residual + partial-agg edge groupBy":
            temporal_pagerank(
                spark, derive_edges(t).select(
                    "src", "dst", F.col("ts").cast("long").alias("t")),
                max_len=2, cfg=cfg),
        "Kleinberg bursts: key-shuffled applyInPandas DP, no cross-key "
        "state": burst_detect(
            events.select(
                F.col("user_id").alias("uid"), ts_micros("ts").alias("us")
            ).select("uid",
                     F.expr("CAST(us div 1000 AS BIGINT)").alias("t"))),
    })

    sections.update({
        "Exact midrank ROC-AUC: score-group partial agg + distinct-"
        "score window + single integer fold (no per-row sort)":
            roc_auc(docs2, F.col("n_chars"), F.col("lang") == "en"),
        "ACL sweep cut: TakeOrdered top-k candidates, broadcast k-row "
        "rank map onto the candidate subgraph, k-row windows only":
            sweep_cut(
                spark, e_vid,
                derive_edges(t).select(
                    F.col("src").alias("vid")
                ).distinct().select("vid", F.lit(1).cast("long").alias("num")),
                50,
            ),
    })

    from crgp_spark.operators.bridges import _canonical as _bridge_canon
    from crgp_spark.operators.euler import connectivity_substrate

    _bsub = connectivity_substrate(spark, _bridge_canon(e_vid), cfg)
    sections.update({
        "Bridges low-link test over the Euler interval substrate "
        "(min-label wave forest, labels aggregated over root paths): "
        "O(V) label rows, one scan-speed filter — bridge iff no "
        "non-tree reach escapes [tin, tout]": _bsub.filter(F.col("parent").isNotNull()).filter(
            (F.col("low") >= F.col("tin"))
            & (F.col("high") <= F.col("tout"))
        ).select(
            F.least("vid", "parent").alias("u"),
            F.greatest("vid", "parent").alias("v"),
        ),
    })

    from crgp_spark.operators.diameter import component_diameters as _diam

    sections.update({
        "Exact per-component diameter (double sweep + batched iFUB): "
        "grouped multi-source BFS advances every component in one "
        "superstep wave; closing components leave the candidate join":
            _diam(spark, e_vid, cfg),
    })

    from crgp_spark.operators.louvain import leiden as _leiden

    sections.update({
        "Leiden level 1 (Louvain IS moves + Traag connectivity "
        "refinement): intra-community edge filter + the audited "
        "components pass — every community provably connected":
            _leiden(spark, e_vid, cfg, levels=1, rounds=2),
    })

    from crgp_spark.functions import md5_num60 as _md5n
    from crgp_spark.operators.wl import wl_refine as _wl

    sections.update({
        "WL refinement (2 rounds): one groupBy(vid) shuffle per round "
        "carrying neighbor colors, sort_array(collect_list) canonical "
        "signature, md5_num60 JVM-side — no Python in the loop": _wl(
            spark, e_vid, rounds=2, cfg=cfg
        ),
    })

    from crgp_spark.operators.dedup import duplicate_spans

    sections.update({
        "Duplicated-substring spans (Lee et al.): single-projection "
        "gram md5s + posexplode -> ONE combinable gram groupBy -> "
        "semi-join back -> per-doc window interval merge":
            duplicate_spans(docs),
    })

    import shutil as _sh

    from crgp_spark.sources.bucketed import colocated_join, write_bucketed

    _bw = "/tmp/crgp_explain_bucketed"
    _sh.rmtree(_bw, ignore_errors=True)
    write_bucketed(tbl["orders"], "expl_bo", f"{_bw}/o", "o_custkey", 8)
    write_bucketed(tbl["customer"], "expl_bc", f"{_bw}/c", "c_custkey", 8)
    sections.update({
        "Bucketed co-located join: both scans 'Bucketed: true', "
        "SortMergeJoin with ZERO Exchange (the pay-once placement "
        "shuffle) — fact-to-fact joins at 100 TB":
            colocated_join(spark, "expl_bo", "expl_bc",
                           "o_custkey", "c_custkey"),
    })

    from crgp_spark.sources.zonemaps import skipping_scan, zone_maps

    _zw = "/tmp/crgp_explain_zonemaps"
    _sh.rmtree(_zw, ignore_errors=True)
    (
        tbl["orders"]
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(_zw)
    )
    sections.update({
        "Zone-map skipping scan: file list pruned driver-side against "
        "per-file min/max (manifest skip), surviving files scanned with "
        "the residual filter as a PushedFilter":
            skipping_scan(spark, _zw, "o_orderkey", 100, 999,
                          maps=zone_maps(spark, _zw, "o_orderkey")),
    })

    from crgp_spark.operators.skyline import skyline2d

    sections.update({
        "2-D skyline: combinable per-x min reduction -> range split "
        "materialized once -> partition-local prefix-min window + "
        "broadcast of the "
        "one-row-per-partition boundary minima (no global "
        "single-partition window)": skyline2d(
            tbl["orders"].select(
                F.col("o_orderkey").alias("x"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long").alias("y"),
            ),
            "x", "y",
        ),
    })

    from crgp_spark.operators.timeseries import resample_ffill

    sections.update({
        "Resample + forward fill: combinable max_by downsample -> "
        "per-key sequence spine (no global window) -> count-prefix "
        "fill groups, all windows partitioned by key": resample_ffill(
            events, key="user_id", ts="ts",
            val=F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            seq="event_id",
        ),
    })

    from crgp_spark.functions import ts_micros as _tsus
    from crgp_spark.operators.ivm import maintain_rollup, rollup_view

    _ivm_base = tbl["customer"].select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long").alias("bal_cents"),
        "c_mktsegment",
    )
    _ivm_ch = events.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long").alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        _tsus(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
    )
    sections.update({
        "Incremental view maintenance: changelog frontier window -> "
        "touched-key semi-join (the only base contact) -> delta "
        "groupBy -> outer merge into the materialized view — "
        "O(changes), never O(facts)": maintain_rollup(
            _ivm_base, _ivm_ch, ["c_custkey"], ["v_us", "v_seq"],
            ["c_mktsegment"], "bal_cents",
            base_agg=rollup_view(_ivm_base, ["c_mktsegment"], "bal_cents"),
        ),
    })

    from crgp_spark.operators.msf import _canonical

    _me = _canonical(
        e_vid.withColumn("w", (F.pmod(F.col("dst"), F.lit(97)) + F.lit(1)).cast("long"))
    )
    _mc = (
        _me.select(F.col("u").alias("vid"))
        .unionByName(_me.select(F.col("v").alias("vid")))
        .distinct()
        .select("vid", F.col("vid").alias("comp"))
    )
    _md = _me.join(
        _mc.select(F.col("vid").alias("u"), F.col("comp").alias("cu")), "u"
    ).join(
        _mc.select(F.col("vid").alias("v"), F.col("comp").alias("cv")), "v"
    ).filter(F.col("cu") != F.col("cv"))
    sections.update({
        "Boruvka MSF (round-1 choose stage shown): canonical dedup "
        "groupBy -> component relabel joins -> ONE combinable min_by "
        "per-component argmin over both directions": _md.select(
            F.col("cu").alias("c"), "u", "v", "w", "ord"
        ).unionByName(
            _md.select(F.col("cv").alias("c"), "u", "v", "w", "ord")
        ).groupBy("c").agg(
            F.min_by("u", "ord").alias("u"),
            F.min_by("v", "ord").alias("v"),
            F.min_by("w", "ord").alias("w"),
        ),
    })

    from crgp_spark.operators.coloring import greedy_coloring

    sections.update({
        "Jones-Plassmann coloring (one round shown): active semi-join "
        "pair -> per-vertex MIN local-minimum test -> colored-state "
        "join + round-bounded collect_set mex": greedy_coloring(
            spark, e_vid, rounds=1
        ),
    })

    from crgp_spark.operators.anf import anf as anf_op

    sections.update({
        "ANF neighborhood function (FM bitmask propagation, 3 hops): "
        "per-hop BIT_OR partial aggregation on dst-partitioned edges, "
        "left-join OR merge, no float anywhere": anf_op(
            spark, e_vid, hops=3
        ),
    })

    from crgp_spark.operators.densest import densest_vertices

    sections.update({
        "Densest-subgraph peel (BKV, best-round vertex set): per-round "
        "degree aggregate + cross-multiplied integer peel predicate + "
        "two anti-joins": densest_vertices(spark, e_vid, rounds=4),
    })

    from crgp_spark.operators.hll import hll_distinct

    sections.update({
        "HyperLogLog grouped distinct (p=6): register MAX is map-side "
        "combinable, 64-row-per-group fold, one pinned IEEE division":
        hll_distinct(events, "event_type", "user_id", p=6),
    })

    from crgp_spark.operators.regress import grouped_acf

    sections.update({
        "Grouped autocorrelation (lags 1..3): one window pass for all "
        "leads, explode preserves key partitioning, exact integer "
        "moments": grouped_acf(
            events.select(
                "user_id",
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("_us"),
                "event_id",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long").alias("cents"),
            ),
            "user_id",
            [F.col("_us"), F.col("event_id")],
            F.col("cents"),
            lags=3,
        ),
    })

    from crgp_spark.operators.coreness import onion_decomposition
    from crgp_spark.operators.cusum import pettitt_test
    from crgp_spark.operators.domset import dominating_set
    from crgp_spark.operators.experiment import ks_test
    from crgp_spark.operators.fiedler import fiedler_vector
    from crgp_spark.operators.graphstats import scan_statistic
    from crgp_spark.operators.triangles import four_cliques

    _daily = (
        events.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("t"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("t")
        .agg(F.sum("c").alias("x"))
    )
    sections.update({
        "Exact two-sample KS: per-user SUM monoid, value-level counts, "
        "range-partitioned two-level prefix sum (no single-task window "
        "on the data path), broadcast offset table, one final max":
            ks_test(events),
        "Pettitt change point: value-rank pass + series prefix sum — "
        "both windows over the day grid, integer end to end":
            pettitt_test(_daily),
        "Ego-net scan statistic: degree aggregate + degeneracy-"
        "oriented triangle pass, shuffle-hash state joins":
            scan_statistic(spark, e_vid),
        "4-clique counting: oriented wedge join -> triangle semi-join "
        "-> extension join + two closing semi-joins, all degeneracy-"
        "bounded": four_cliques(spark, e_vid, materialize=False)[1],
        "Dominating set (one round shown): span aggregate over the "
        "U-semi-joined edges, neighbor-comparison anti-join, coverage "
        "semi-join": dominating_set(spark, e_vid, rounds=1),
        "Fiedler bisection (one round shown): one groupBy(dst) "
        "neighbor fold, two 1-row scalar folds (deflate mean, "
        "max-rescale) via broadcast cross-join":
            fiedler_vector(spark, e_vid, rounds=1),
        "Onion peel (one round shown): degree aggregate over semi-"
        "join-restricted edges, threshold ratchet as 1-row fold, "
        "anti-join shrink": onion_decomposition(spark, e_vid, rounds=1),
    })

    from crgp_spark.operators.assoc import association_rules
    from crgp_spark.operators.experiment import chi2_independence
    from crgp_spark.operators.gini import gini_coefficient
    from crgp_spark.operators.infotheory import js_divergence
    from crgp_spark.operators.rankcorr import spearman_rho
    from crgp_spark.operators.survival import kaplan_meier

    _per_user_xy = (
        events.select(
            F.col("user_id").alias("u"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("x"), F.sum("c").alias("y"))
    )
    _subj = (
        events.select(
            F.col("user_id").alias("u"),
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("day"),
        )
        .groupBy("u")
        .agg(F.min("day").alias("fd"), F.max("day").alias("ld"))
        .select(
            (F.col("ld") - F.col("fd") + 1).cast("long").alias("dur"),
            F.lit(1).cast("int").alias("ev"),
        )
    )
    sections.update({
        "Spearman rho: two value-level rank passes (range-partitioned "
        "prefix sums), one six-moment BIGINT aggregate":
            spearman_rho(_per_user_xy),
        "Chi-square independence: one cell groupBy, broadcast "
        "marginals, 8dp-quantized order-free integer fold":
            chi2_independence(events),
        "Per-group Gini: partitioned rank window + BIGINT moment "
        "aggregate, no global sort": gini_coefficient(
            _per_user_xy.select(
                F.lit("all").alias("g"), F.col("y").alias("x")
            )
        ),
        "Association rules: basket-local self-join bounded by "
        "vocabulary size, broadcast item counts":
            association_rules(events),
        "Jensen-Shannon divergence: one vocabulary groupBy, "
        "quantized-ln BIGINT folds, 1-row combine":
            js_divergence(docs, F.col("lang") == "en"),
        "Kaplan-Meier: per-subject aggregate then duration-grid "
        "windows only": kaplan_meier(_subj),
    })

    from crgp_spark.operators.dedup import hard_negatives
    from crgp_spark.operators.experiment import prop_test
    from crgp_spark.operators.graphstats import powerlaw_alpha
    from crgp_spark.operators.stump import stump_train

    sections.update({
        "Two-proportion z-test: per-user conversion aggregate, 2-row "
        "arm rollup, 1-row pinned-float combine": prop_test(events),
        "Degree-tail power-law MLE: degree aggregate + quantized-ln "
        "BIGINT fold": powerlaw_alpha(e_vid, d_min=2),
        "Decision stump: per-feature melt (scan reuse), value-grid "
        "windows, one IEEE division per candidate, "
        "TakeOrderedAndProject argmax": stump_train(
            events.selectExpr(
                "user_id % 10 AS f_user",
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
                " AS y",
            ),
            ["f_user"],
            "y",
        ),
        "Hard-negative mining: LSH band join -> candidate-only exact "
        "Jaccard -> per-anchor WindowGroupLimit top-k":
            hard_negatives(docs, n_hashes=4, band_size=1, per_anchor=5),
    })

    from crgp_spark.operators.sample import kfold_assign
    from crgp_spark.operators.textstats import heaps_fit

    sections.update({
        "k-fold audit: one hash expression, one grouped aggregate "
        "with map-side combine": kfold_assign(
            events, "user_id", k=5,
            label_expr=(F.col("event_type") == "purchase").cast("int"),
        ),
        "Heaps-law fit: token explode, two groupBys, quantized-ln "
        "moment fold": heaps_fit(docs),
    })

    out = ["# EXPLAIN — physical plans of the key pipelines\n"]
    out.append(
        "Generated by `python scripts/explain_plans.py` at "
        f"`{sf_dir}`. Things to check: `PushedFilters` reaches the scan, "
        "`ReadSchema` carries only used columns, every stage is inside a "
        "`WholeStageCodegen` span, aggregations have `partial_` phases "
        "before the exchange, joins are hash/sort-merge (never "
        "`CartesianProduct`; `BroadcastNestedLoopJoin` only as the "
        "sanctioned 1-row scalar-subquery cross-join in the Q11 shape), "
        "and no `BatchEvalPython` appears anywhere in the relational "
        "pipelines.\n"
    )
    for title, df in sections.items():
        out.append(f"\n## {title}\n\n```\n{_explain(df)}```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
