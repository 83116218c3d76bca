"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (top influential turns by
out-degree of the derived influence-edge table) at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives each one's DuckDB-runnable ANSI-SQL
twin over the same parquet tables.

Vertex ids in the driver queries use the NATURAL encoding
``vid = user_id * 100000 + turn_idx`` (conversations here are derived
from the ``events`` table, one per user) instead of the engine's
``xxhash64`` ids, because the oracle SQL must reproduce them exactly and
``xxhash64`` has no DuckDB twin. Both encodings are injective; the
engine's algorithms are id-agnostic.

All compared outputs are integers/strings or explicitly-rounded doubles
so the driver's value hash is stable across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crgp_spark.config import EngineConfig
from crgp_spark.derive import derive_edge_turns, first_activations
from crgp_spark.functions import decimal_round
from crgp_spark.generator import transcripts_from_events
from crgp_spark.operators.components import connected_components
from crgp_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
    simhash_dedup,
    simhash_pairs,
)
from crgp_spark.operators.multimodal import attach_fake_payload, extract_features
from crgp_spark.operators.sessions import session_stats
from crgp_spark.operators.triads import TRIAD_NAMES, TRIAD_STATE_CLASS
from crgp_spark.operators.labelprop import label_propagation
from crgp_spark.operators.pagerank import pagerank_df
from crgp_spark.operators.similarity import (
    embedding_neardup_pairs,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
    knn_sq8,
)
from crgp_spark.operators.relational import (
    cheapest_supplier_per_part,
    customer_order_distribution,
    disjunctive_brand_revenue,
    important_parts,
    lapsed_customers,
    large_quantity_orders,
    market_share,
    nation_trade_volume,
    part_supplier_counts,
    pricing_summary,
    promo_revenue_share,
    region_revenue,
    returned_item_customers,
    returned_priority_counts,
    revenue_forecast,
    revenue_rollup,
    small_quantity_revenue,
    sole_blame_suppliers,
    top_orders_per_segment,
    topk_unshipped_orders,
)
from crgp_spark.operators.textstats import (
    bpe_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
    winnowing_fingerprints,
)
from crgp_spark.operators.triangles import triangles


# ---------------------------------------------------------------------------
# Shared Spark-side building blocks


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _edge_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence edges in natural-key form over events-derived
    transcripts (conversation = user, turn order = (ts, event_id))."""
    return derive_edge_turns(transcripts_from_events(_events(spark, sf_dir)))


def _uid(conv_col: str) -> F.Column:
    return F.substring(F.col(conv_col), 2, 20).cast("long")


def _edges_vid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived edges as (src, dst) long vids: uid*100000 + turn_idx."""
    e = _edge_turns(spark, sf_dir)
    return e.select(
        (_uid("conv_id") * 100000 + F.col("src_turn")).alias("src"),
        (_uid("conv_id") * 100000 + F.col("dst_turn")).alias("dst"),
    )


# events → directed actor-succession graph (transitions.py::
# succession_graph): LEAD over the per-channel (ts, event_id) order,
# consecutive distinct-actor pairs kept at weight >= 3
_SQL_SUCCESSION = """
g AS MATERIALIZED (
  SELECT src, dst, COUNT(*) AS weight FROM (
    SELECT user_id AS src,
           LEAD(user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events) s
  WHERE dst IS NOT NULL AND src <> dst
  GROUP BY src, dst HAVING COUNT(*) >= 3
)"""


# temporal earliest arrival (operators/temporalreach.py): recursive
# closure over (vid, t) states — an edge extends a state only
# at-or-after its time; earlier arrival dominates, so MIN per vid
# equals the engine's min-arrival fixpoint. Seeds released at their
# own first event time; edges = first-day successions. Shared by the
# batch entry and the 9th gated streaming path (stream==batch).
_SQL_TEMPORAL_REACH = """WITH RECURSIVE ed AS MATERIALIZED (
  SELECT src, dst, t FROM (
    SELECT user_id AS src,
           LEAD(user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS dst,
           LEAD(EPOCH_US(ts)) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS t
    FROM (SELECT * FROM events
          WHERE ts < CAST('2024-01-02 00:00:00' AS TIMESTAMP)) ) s
  WHERE dst IS NOT NULL AND src <> dst
),
seeds AS MATERIALIZED (
  SELECT user_id AS vid, MIN(EPOCH_US(ts)) AS t0 FROM events
  WHERE user_id % 17 = 0 GROUP BY user_id
),
r AS (
  SELECT vid, t0 AS t FROM seeds
  UNION
  SELECT e.dst AS vid, e.t FROM r JOIN ed e
    ON e.src = r.vid AND e.t >= r.t
)
SELECT vid, CAST(MIN(t) AS BIGINT) AS arrival_us FROM r GROUP BY vid"""


def _graph_cfg() -> EngineConfig:
    return EngineConfig(
        shuffle_partitions=8,
        graph_partitions=8,
        checkpoint_dir="/tmp/crgp_ckpt_entry",
        checkpoint_every=10_000,  # driver queries need no mid-run commits
    )


# ---------------------------------------------------------------------------
# Shared oracle-SQL building blocks (DuckDB dialect-safe ANSI)

# events → turns (the transcripts_from_events mapping, generator.py)
_SQL_TURNS = """
turns AS (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
           user_id AS uid,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
           event_type AS participant,
           ts
    FROM events
)"""

# turns → first activation per (conversation, participant)   [derive.py]
_SQL_ACTS = """
acts AS (
    SELECT conv_id, uid, participant, MIN(turn_idx) AS act_turn
    FROM turns GROUP BY conv_id, uid, participant
),
acts_ts AS (
    SELECT a.conv_id, a.uid, a.participant, a.act_turn, t.ts AS act_ts
    FROM acts a JOIN turns t
      ON t.conv_id = a.conv_id AND t.turn_idx = a.act_turn
)"""

# turns → conversation originator (opener participant)
_SQL_ORIG = """
orig AS (
    SELECT conv_id, MIN(turn_idx) AS orig_turn,
           MIN_BY(participant, turn_idx) AS orig_participant
    FROM turns GROUP BY conv_id
)"""

# the full influence-edge derivation (derive.py::derive_edge_turns):
# edge q → turn t iff q is another participant of the conversation and
# (first_activation(q).ts < t.ts  OR  q = originator)
_SQL_EDGES = f"""
{_SQL_TURNS},
{_SQL_ACTS},
{_SQL_ORIG},
edges AS (
    SELECT t.conv_id,
           t.uid,
           a.act_turn AS src_turn,
           a.participant AS src_participant,
           t.turn_idx AS dst_turn,
           t.participant AS dst_participant,
           o.orig_turn
    FROM turns t
    JOIN orig o ON o.conv_id = t.conv_id
    JOIN acts_ts a ON a.conv_id = t.conv_id AND a.participant <> t.participant
    WHERE t.turn_idx <> o.orig_turn
      AND (a.act_ts < t.ts OR a.participant = o.orig_participant)
)"""

# edges in natural-vid long form
_SQL_EVID = f"""
{_SQL_EDGES},
e AS (
    SELECT uid * 100000 + src_turn AS src, uid * 100000 + dst_turn AS dst
    FROM edges
)"""


def _sql_evid() -> str:
    # e carries one row per derived edge (src,dst unique per edge)
    return _SQL_EVID


# word k-gram shingles of normalized text (dedup.py::word_shingles, k=3)
_SQL_SHINGLES = """
ntext AS (
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
    FROM documents
),
tk AS (
    SELECT doc_id,
           CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
                ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
    FROM ntext
),
sh AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(tk) - 3, 0) + 1),
                                     i -> ARRAY_TO_STRING(tk[i + 1 : i + 3], ' '))) AS s
        FROM tk WHERE LEN(tk) > 0
    )
)"""

# consecutive token pairs (operators/lm.py::_bigrams): same ntext/tk
# normalization, then struct-unnest of the (w1, w2) pair list
_SQL_BIGRAMS = """
ntext AS (
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
    FROM documents
),
tk AS (
    SELECT doc_id,
           CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
                ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
    FROM ntext
),
bg AS (
    SELECT doc_id, p.w1 AS w1, p.w2 AS w2
    FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 1),
                                     i -> {'w1': tk[i + 1], 'w2': tk[i + 2]})) AS p
        FROM tk WHERE LEN(tk) >= 2
    )
)"""

# ln quantized to BIGINT micro-nats — the exactness device shared with
# textstats._lnq (see the entropy oracle): identical quantization in
# both engines even when libm logs differ in the last ulp.
def _sql_lnq(expr: str) -> str:
    return (
        f"CAST(FLOOR(LN(CAST({expr} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    )


# 4-slot MinHash signatures from the shingle set (dedup.py)
_SQL_MINHASH = f"""
{_SQL_SHINGLES},
sig AS (
    SELECT doc_id,
           MIN(MD5(s || '#0')) AS sig_0,
           MIN(MD5(s || '#1')) AS sig_1,
           MIN(MD5(s || '#2')) AS sig_2,
           MIN(MD5(s || '#3')) AS sig_3
    FROM sh GROUP BY doc_id
)"""

# --- LSH hyperplane reconstruction in SQL (similarity.py) ------------------
# The engine's hyperplane weights are md5-derived integers and the
# projection is exact int64 (quantized components × integer weights), so
# DuckDB reproduces the buckets bit-for-bit: weight = first 4 bytes of
# MD5("{seed}:{bit}:{dim}") as uint32, minus 2^31.

_MD5_U32 = " + ".join(
    f"(INSTR('0123456789abcdef', SUBSTRING(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


def _sql_lsh_buckets(n_tables: int, n_bits: int, base_seed: int = 42) -> str:
    """CTEs ``qx``/``planes``/``buckets``: per (vec_id, table) bucket
    bit-strings identical to ``similarity.lsh_bucket``."""
    return f"""
qx AS (
    SELECT vec_id, t.i AS d,
           CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qx
    FROM embeddings, RANGE(64) t(i)
),
ph AS (
    SELECT tt.t AS t, bb.b AS b, dd.d AS d,
           MD5(CAST({base_seed} + 1000 * tt.t AS VARCHAR) || ':' ||
               CAST(bb.b AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)) AS h
    FROM RANGE({n_tables}) tt(t), RANGE({n_bits}) bb(b), RANGE(64) dd(d)
),
planes AS (SELECT t, b, d, CAST({_MD5_U32} AS BIGINT) - 2147483648 AS w FROM ph),
proj AS (
    SELECT q.vec_id, p.t, p.b, SUM(q.qx * p.w) AS s
    FROM qx q JOIN planes p ON p.d = q.d
    GROUP BY q.vec_id, p.t, p.b
),
buckets AS (
    SELECT vec_id, t,
           STRING_AGG(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
    FROM proj GROUP BY vec_id, t
)"""


# embeddings exploded to (vec_id, i, x_double) + norms
_SQL_EMB = """
ex AS (
    SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
    FROM embeddings, RANGE(64) t(i)
),
norms AS (
    SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY vec_id
)"""

_PR_ALPHA = 0.85
_PR_ITERS = 3


def _sql_pagerank() -> str:
    """PageRank with dangling-mass redistribution, 3 iterations unrolled
    (pagerank_df's exact formula; operators/pagerank.py)."""
    parts = [
        _sql_evid(),
        """,
verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY src),
r0 AS (SELECT vid, 1.0 / (SELECT n FROM nv) AS rank FROM verts)""",
    ]
    a = _PR_ALPHA
    for it in range(_PR_ITERS):
        p, c = f"r{it}", f"r{it + 1}"
        parts.append(
            f""",
dang{it} AS (
    SELECT COALESCE(SUM(r.rank), 0) AS dm FROM {p} r
    LEFT JOIN deg ON deg.src = r.vid WHERE deg.src IS NULL
),
m{it} AS (
    SELECT e.dst AS vid, SUM(r.rank / deg.d) AS c
    FROM e JOIN deg ON deg.src = e.src JOIN {p} r ON r.vid = e.src
    GROUP BY e.dst
),
{c} AS (
    SELECT v.vid,
           {1.0 - a} / (SELECT n FROM nv)
           + {a} * (COALESCE(m.c, 0) + (SELECT dm FROM dang{it}) / (SELECT n FROM nv)) AS rank
    FROM verts v LEFT JOIN m{it} m ON m.vid = v.vid
)"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f"\nSELECT vid, FLOOR(rank * 1000000.0 + 0.5) / 1000000.0 AS rank FROM r{_PR_ITERS}"
    )


def _sql_bfs() -> str:
    """Multi-source BFS min hop distance from conversation originators
    (operators/bfs.py, cascade_algos.cascade_bfs). The recursive CTE
    enumerates distinct (vertex, depth) pairs — bounded by |V|·diameter
    — and MIN-aggregates; UNION (distinct) plus the depth cap guarantee
    termination."""
    return f"""WITH RECURSIVE {_SQL_EVID},
srcs AS (SELECT DISTINCT uid * 100000 + orig_turn AS vid FROM edges),
bfs AS (
    SELECT vid, 0 AS d FROM srcs
    UNION
    SELECT e.dst AS vid, b.d + 1 AS d
    FROM bfs b JOIN e ON e.src = b.vid
    WHERE b.d < 100
)
SELECT vid, CAST(MIN(d) AS INT) AS dist FROM bfs GROUP BY vid"""


def _sql_bridges_core() -> str:
    """Shared chain for the `bridges` / `ecc2` oracles — the exact
    twin of operators/bridges.py: BFS spanning forest from the
    component-minimum roots (the oracle reads them as the per-
    conversation minimum, the identity the hash-green `components`
    oracle certifies for this input; the engine computes them
    generically), parent = MIN neighbor one hop closer, recursive
    ancestor closure, per-non-tree-edge LCA via ARG_MAX over the
    common-ancestor chain, and the integer crossing count
    S1 - 2*S2 = 0 ⟺ bridge."""
    return f"""WITH RECURSIVE {_SQL_EVID},
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e WHERE src <> dst
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und
),
verts AS MATERIALIZED (SELECT DISTINCT a AS vid FROM adj),
roots AS MATERIALIZED (
  SELECT MIN(vid) AS vid FROM verts GROUP BY vid // 100000
),
bfs AS (
  SELECT vid, 0 AS d FROM roots
  UNION
  SELECT adj.b AS vid, bfs.d + 1 AS d
  FROM bfs JOIN adj ON adj.a = bfs.vid WHERE bfs.d < 100
),
dist AS MATERIALIZED (SELECT vid, MIN(d) AS dist FROM bfs GROUP BY vid),
par AS MATERIALIZED (
  SELECT dv.vid, dv.dist, MIN(adj.b) AS parent
  FROM dist dv JOIN adj ON adj.a = dv.vid
  JOIN dist du ON du.vid = adj.b AND du.dist = dv.dist - 1
  GROUP BY dv.vid, dv.dist
),
tree AS MATERIALIZED (
  SELECT LEAST(vid, parent) AS u, GREATEST(vid, parent) AS v FROM par
),
nont AS MATERIALIZED (
  SELECT u, v FROM und
  WHERE NOT EXISTS (SELECT 1 FROM tree t WHERE t.u = und.u AND t.v = und.v)
),
clos AS (
  SELECT vid, vid AS anc FROM verts
  UNION
  SELECT c.vid, p.parent AS anc FROM clos c JOIN par p ON p.vid = c.anc
),
closd AS MATERIALIZED (
  SELECT c.vid, c.anc, d.dist AS adist
  FROM clos c JOIN dist d ON d.vid = c.anc
),
lca AS MATERIALIZED (
  SELECT n.u, n.v, ARG_MAX(cu.anc, cu.adist) AS l
  FROM nont n
  JOIN closd cu ON cu.vid = n.u
  JOIN closd cv ON cv.vid = n.v AND cv.anc = cu.anc
  GROUP BY n.u, n.v
),
s1 AS MATERIALIZED (
  SELECT c.anc, COUNT(*) AS cnt
  FROM (SELECT u AS x FROM nont UNION ALL SELECT v FROM nont) ep
  JOIN closd c ON c.vid = ep.x GROUP BY c.anc
),
s2 AS MATERIALIZED (
  SELECT c.anc, COUNT(*) AS cnt
  FROM lca JOIN closd c ON c.vid = lca.l GROUP BY c.anc
),
br AS MATERIALIZED (
  SELECT LEAST(p.vid, p.parent) AS u, GREATEST(p.vid, p.parent) AS v
  FROM par p
  LEFT JOIN s1 ON s1.anc = p.vid
  LEFT JOIN s2 ON s2.anc = p.vid
  WHERE COALESCE(s1.cnt, 0) - 2 * COALESCE(s2.cnt, 0) = 0
)"""


def _sql_bridges() -> str:
    return (
        _sql_bridges_core()
        + "\nSELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v FROM br"
    )


def _sql_ecc2() -> str:
    """2ECC = recursive min-label over the non-bridge adjacency."""
    return (
        _sql_bridges_core()
        + """,
nb AS MATERIALIZED (
  SELECT u, v FROM und
  WHERE NOT EXISTS (SELECT 1 FROM br WHERE br.u = und.u AND br.v = und.v)
),
nbadj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM nb UNION ALL SELECT v, u FROM nb
),
lab AS (
  SELECT vid, vid AS lab FROM verts
  UNION
  SELECT a.b AS vid, l.lab FROM lab l JOIN nbadj a ON a.a = l.vid
)
SELECT vid, CAST(MIN(lab) AS BIGINT) AS ecc2 FROM lab GROUP BY vid"""
    )


def _sql_blocks_core() -> str:
    """Extends `_sql_bridges_core` with the biconnectivity chain of
    operators/blocks.py: fundamental-cycle cover (the closure XOR
    predicate), per-cycle hub stars, recursive min-label components
    over the stars, block labels (tree edges keyed by child vid,
    bridges singleton, non-tree edges inherit their hub's block)."""
    return (
        _sql_bridges_core()
        + """,
cov AS MATERIALIZED (
  SELECT n.u, n.v, c.anc AS ch
  FROM nont n JOIN closd c ON c.vid = n.u
  WHERE NOT EXISTS (
    SELECT 1 FROM closd c2 WHERE c2.vid = n.v AND c2.anc = c.anc)
  UNION ALL
  SELECT n.u, n.v, c.anc AS ch
  FROM nont n JOIN closd c ON c.vid = n.v
  WHERE NOT EXISTS (
    SELECT 1 FROM closd c2 WHERE c2.vid = n.u AND c2.anc = c.anc)
),
hub AS MATERIALIZED (SELECT u, v, MIN(ch) AS hub FROM cov GROUP BY u, v),
stars AS MATERIALIZED (
  SELECT h.hub AS a, c.ch AS b
  FROM cov c JOIN hub h ON h.u = c.u AND h.v = c.v
  WHERE c.ch <> h.hub
),
sadj AS MATERIALIZED (
  SELECT a, b FROM stars UNION ALL SELECT b, a FROM stars
),
snode AS MATERIALIZED (SELECT DISTINCT a AS node FROM sadj),
slab AS (
  SELECT node, node AS lab FROM snode
  UNION
  SELECT s.b AS node, l.lab FROM slab l JOIN sadj s ON s.a = l.node
),
blockof AS MATERIALIZED (
  SELECT node, MIN(lab) AS block FROM slab GROUP BY node
),
eblocks AS MATERIALIZED (
  SELECT LEAST(p.vid, p.parent) AS u, GREATEST(p.vid, p.parent) AS v,
         COALESCE(b.block, p.vid) AS block
  FROM par p LEFT JOIN blockof b ON b.node = p.vid
  UNION ALL
  SELECT h.u, h.v, COALESCE(b.block, h.hub) AS block
  FROM hub h LEFT JOIN blockof b ON b.node = h.hub
)"""
    )


def _sql_blocks() -> str:
    return (
        _sql_blocks_core()
        + "\nSELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, "
        "CAST(block AS BIGINT) AS block FROM eblocks"
    )


def _sql_articulation() -> str:
    return (
        _sql_blocks_core()
        + """
SELECT CAST(x AS BIGINT) AS vid FROM (
  SELECT x, COUNT(DISTINCT block) AS nb FROM (
    SELECT u AS x, block FROM eblocks
    UNION ALL SELECT v AS x, block FROM eblocks)
  GROUP BY x)
WHERE nb >= 2"""
    )


def _sql_kcore(k: int = 3, rounds: int = 4) -> str:
    """Unrolled peel rounds (operators/kcore.py with fixed_rounds):
    b0 = both-direction simple edges; each round keeps endpoints with
    degree >= k; output = round-``rounds`` degrees still >= k."""
    parts = [
        f"WITH {_SQL_EVID},",
        "u0 AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v\n"
        "       FROM e WHERE src <> dst GROUP BY 1, 2),",
        "b0 AS (SELECT u, v FROM u0 UNION ALL SELECT v AS u, u AS v FROM u0),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS (SELECT u, COUNT(*) AS deg FROM b{r - 1} GROUP BY u),"
        )
        if r < rounds:
            parts.append(f"k{r} AS (SELECT u FROM d{r} WHERE deg >= {k}),")
            parts.append(
                f"b{r} AS (SELECT b.u, b.v FROM b{r - 1} b\n"
                f"  JOIN k{r} x ON x.u = b.u JOIN k{r} y ON y.u = b.v),"
            )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT u AS vid, CAST(deg AS INT) AS deg FROM d{rounds} WHERE deg >= {k}"
    )
    return "\n".join(parts)


def _sql_pagerank_weighted() -> str:
    """Weighted PageRank over the participant-level aggregated influence
    graph (edge weight = number of turn-level influence edges between
    the participant pair), 3 iterations unrolled — pagerank_df's
    weighted formula term-for-term (operators/pagerank.py,
    weight_col): partial = rank·w/out_w with BIGINT weights so the
    out-mass sums are exact in both engines."""
    parts = [
        f"WITH {_SQL_EDGES},",
        "we AS (SELECT src_participant AS src, dst_participant AS dst,\n"
        "              CAST(COUNT(*) AS BIGINT) AS w FROM edges GROUP BY 1, 2),",
        "verts AS (SELECT DISTINCT vid FROM\n"
        "  (SELECT src AS vid FROM we UNION ALL SELECT dst FROM we)),",
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),",
        "ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM we GROUP BY src),",
        "r0 AS (SELECT vid, 1.0 / (SELECT n FROM nv) AS rank FROM verts)",
    ]
    a = _PR_ALPHA
    for it in range(_PR_ITERS):
        p, c = f"r{it}", f"r{it + 1}"
        parts.append(
            f""",
wdang{it} AS (
    SELECT COALESCE(SUM(r.rank), 0) AS dm FROM {p} r
    LEFT JOIN ow ON ow.src = r.vid WHERE ow.src IS NULL
),
wm{it} AS (
    SELECT we.dst AS vid, SUM(r.rank * we.w / ow.ow) AS c
    FROM we JOIN ow ON ow.src = we.src JOIN {p} r ON r.vid = we.src
    GROUP BY we.dst
),
{c} AS (
    SELECT v.vid,
           {1.0 - a} / (SELECT n FROM nv)
           + {a} * (COALESCE(m.c, 0) + (SELECT dm FROM wdang{it}) / (SELECT n FROM nv)) AS rank
    FROM verts v LEFT JOIN wm{it} m ON m.vid = v.vid
)"""
        )
    return (
        "\n".join(parts)
        + f"\nSELECT vid, FLOOR(rank * 1000000.0 + 0.5) / 1000000.0 AS rank FROM r{_PR_ITERS}"
    )


def _sql_mis(rounds: int = 4) -> str:
    """Unrolled Luby rounds (operators/mis.py): per-round md5
    priorities, winners = below every active neighbor, losers =
    winners' active neighbors.  Per-round CTEs are MATERIALIZED: each
    round references the previous one ~6×, so DuckDB's default CTE
    inlining would expand the chain exponentially (it exhausts file
    handles re-scanning the parquet at rounds=4)."""
    parts = [
        f"WITH {_SQL_EVID},",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e WHERE src <> dst),",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
e{r} AS (SELECT s.src, s.dst FROM sym s
         JOIN a{p} x ON x.v = s.src JOIN a{p} y ON y.v = s.dst),
m{r} AS (SELECT src AS v, MIN(MD5(CAST(dst AS VARCHAR) || ':{r}')) AS mn
         FROM e{r} GROUP BY src),
w{r} AS MATERIALIZED (SELECT a.v FROM a{p} a LEFT JOIN m{r} m ON m.v = a.v
         WHERE m.mn IS NULL OR MD5(CAST(a.v AS VARCHAR) || ':{r}') < m.mn),
o{r} AS MATERIALIZED (SELECT DISTINCT s.dst AS v
         FROM sym s JOIN w{r} w ON w.v = s.src
         WHERE s.dst IN (SELECT v FROM a{p})
           AND s.dst NOT IN (SELECT v FROM w{r})),
a{r} AS MATERIALIZED (SELECT v FROM a{p} EXCEPT SELECT v FROM w{r}
         EXCEPT SELECT v FROM o{r})"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT v AS vid, 'mis' AS status, CAST({r} AS INT) AS rnd FROM w{r}\n"
        f"UNION ALL SELECT v, 'out', CAST({r} AS INT) FROM o{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "".join(parts)
        + "\n"
        + sel
        + f"\nUNION ALL SELECT v, 'open', CAST(0 AS INT) FROM a{rounds}"
    )


def _sql_lnq(expr: str) -> str:
    """SQL twin of ``textstats._lnq``: ln quantized to BIGINT
    micro-nats."""
    return (
        f"CAST(FLOOR(LN(CAST({expr} AS DOUBLE)) * 1000000 + 0.5)"
        " AS BIGINT)"
    )


def _sql_mutual_info() -> str:
    """Quantized-ln MI + NMI twin (operators/infotheory.py)."""
    return f"""
WITH cells AS (
  SELECT event_type AS x, CAST(user_id % 2 AS INT) AS y,
         CAST(COUNT(*) AS BIGINT) AS nxy
  FROM events GROUP BY 1, 2
),
mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY x),
my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY y),
t AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
g AS (
  SELECT MAX(t.n) AS n,
         CAST(SUM(c.nxy * ({_sql_lnq('t.n * c.nxy')}
              - {_sql_lnq('mx.nx * my.ny')})) AS BIGINT) AS mi_scaled
  FROM cells c JOIN mx ON mx.x = c.x JOIN my ON my.y = c.y, t
),
hx AS (
  SELECT CAST(MAX(t.n * {_sql_lnq('t.n')})
         - SUM(nx * {_sql_lnq('nx')}) AS BIGINT) AS hx_scaled
  FROM mx, t
),
hy AS (
  SELECT CAST(MAX(t.n * {_sql_lnq('t.n')})
         - SUM(ny * {_sql_lnq('ny')}) AS BIGINT) AS hy_scaled
  FROM my, t
)
SELECT g.n, g.mi_scaled, hx.hx_scaled, hy.hy_scaled,
       FLOOR(CAST(g.mi_scaled AS DOUBLE)
             / (CAST(g.n AS DOUBLE) * 1000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS mi,
       CASE WHEN hx.hx_scaled > 0 AND hy.hy_scaled > 0
            THEN FLOOR(CAST(g.mi_scaled AS DOUBLE)
                 / SQRT(CAST(hx.hx_scaled AS DOUBLE)
                        * CAST(hy.hy_scaled AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS nmi
FROM g, hx, hy"""


def _sql_jsd() -> str:
    """Quantized-ln Jensen-Shannon twin (operators/infotheory.py)."""
    return f"""WITH {_SQL_SHINGLES},
tok AS (SELECT t.doc_id, UNNEST(t.tk) AS term FROM tk t
        WHERE LEN(t.tk) > 0),
sided AS (
  SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS side, tok.term
  FROM tok JOIN documents d ON d.doc_id = tok.doc_id
),
tf AS (
  SELECT term,
         CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS b
  FROM sided GROUP BY term
),
t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb FROM tf),
g AS (
  SELECT t.na, t.nb,
         CAST(SUM(CASE WHEN a > 0
              THEN a * ({_sql_lnq('2 * a * t.nb')}
                   - {_sql_lnq('a * t.nb + b * t.na')})
              ELSE 0 END) AS BIGINT) AS sa_scaled,
         CAST(SUM(CASE WHEN b > 0
              THEN b * ({_sql_lnq('2 * b * t.na')}
                   - {_sql_lnq('a * t.nb + b * t.na')})
              ELSE 0 END) AS BIGINT) AS sb_scaled
  FROM tf, t GROUP BY t.na, t.nb
)
SELECT na AS n_a, nb AS n_b, sa_scaled, sb_scaled,
       CASE WHEN na > 0 AND nb > 0
            THEN FLOOR((CAST(sa_scaled AS DOUBLE)
                 / (2000000.0 * CAST(na AS DOUBLE))
                 + CAST(sb_scaled AS DOUBLE)
                 / (2000000.0 * CAST(nb AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS jsd
FROM g"""


def _sql_benford() -> str:
    """Benford audit twin (operators/gini.py::benford_audit): the nine
    expected probabilities as full-precision double literals (repr
    round-trips to the identical IEEE double in both engines)."""
    import math as _math

    cases = " ".join(
        f"WHEN {d} THEN {_math.log10(1.0 + 1.0 / d)!r}"
        for d in range(1, 10)
    )
    return f"""
WITH px AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x FROM events
  WHERE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) > 0
),
dg AS (SELECT CAST(SUBSTRING(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit
       FROM px),
cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM dg GROUP BY digit),
base AS (SELECT CAST(r.i + 1 AS INT) AS digit FROM RANGE(9) r(i)),
cells AS (SELECT base.digit, COALESCE(cnt.n_obs, 0) AS n_obs
          FROM base LEFT JOIN cnt ON cnt.digit = base.digit),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT c.digit, c.n_obs,
         CAST(t.n AS DOUBLE) * (CASE c.digit {cases} END) AS e
  FROM cells c, tot t
),
q AS (
  SELECT digit, n_obs, e,
         CAST(FLOOR((CAST(n_obs AS DOUBLE) - e)
              * (CAST(n_obs AS DOUBLE) - e) / e * 100000000.0 + 0.5)
              AS BIGINT) AS tq
  FROM terms
)
SELECT digit, n_obs,
       FLOOR(e * 10000.0 + 0.5) / 10000.0 AS expected,
       FLOOR(CAST((SELECT SUM(tq) FROM q) AS DOUBLE) / 100000000.0
             * 10000.0 + 0.5) / 10000.0 AS chi2
FROM q ORDER BY digit"""


def _sql_domset(rounds: int = 3) -> str:
    """Unrolled parallel-greedy dominating-set rounds
    (operators/domset.py): span = |N[v] ∩ U|, winners = strict local
    maxima of (span, -id), N[winners] covered. Per-round CTEs
    MATERIALIZED per the MIS CTE-inlining rule (each round references
    the previous several times)."""
    parts = [
        f"WITH {_SQL_EVID},",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e"
        " WHERE src <> dst),",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),",
        "u0 AS MATERIALIZED (SELECT v FROM verts)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
nb{r} AS (SELECT s.src AS v, COUNT(*) AS c FROM sym s
          JOIN u{p} x ON x.v = s.dst GROUP BY s.src),
sp{r} AS MATERIALIZED (
  SELECT verts.v,
         COALESCE(nb{r}.c, 0)
         + (CASE WHEN verts.v IN (SELECT v FROM u{p})
                 THEN 1 ELSE 0 END) AS sp
  FROM verts LEFT JOIN nb{r} ON nb{r}.v = verts.v),
w{r} AS MATERIALIZED (
  SELECT a.v FROM sp{r} a
  WHERE a.sp >= 1 AND NOT EXISTS (
    SELECT 1 FROM sym s JOIN sp{r} b ON b.v = s.dst
    WHERE s.src = a.v
      AND (b.sp > a.sp OR (b.sp = a.sp AND b.v < a.v)))),
c{r} AS MATERIALIZED (
  SELECT v FROM (
    SELECT s.dst AS v FROM sym s JOIN w{r} w ON w.v = s.src
    UNION SELECT v FROM w{r}
  ) WHERE v IN (SELECT v FROM u{p})),
u{r} AS MATERIALIZED (SELECT v FROM u{p} EXCEPT SELECT v FROM c{r})"""
        )
    alldom = " UNION ".join(
        f"SELECT v FROM w{r}" for r in range(1, rounds + 1)
    )
    parts.append(f",\nalldom AS MATERIALIZED ({alldom})")
    sel = "\nUNION ALL ".join(
        f"SELECT v AS vid, 'dom' AS status, CAST({r} AS INT) AS rnd"
        f" FROM w{r}\n"
        f"UNION ALL SELECT v, 'covered', CAST({r} AS INT) FROM c{r}\n"
        f"  WHERE v NOT IN (SELECT v FROM alldom)"
        for r in range(1, rounds + 1)
    )
    return (
        "".join(parts)
        + "\n"
        + sel
        + f"\nUNION ALL SELECT v, 'open', CAST(0 AS INT) FROM u{rounds}"
    )


def _sql_onion(rounds: int = 4) -> str:
    """Unrolled onion-peel rounds (operators/coreness.py::
    onion_decomposition): threshold k ratchets up to the min remaining
    degree, everything at ≤ k peels simultaneously as one layer.
    Per-round CTEs MATERIALIZED per the MIS CTE-inlining rule."""
    parts = [
        f"WITH {_SQL_EVID},",
        "und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v FROM e WHERE src <> dst),",
        "sym AS MATERIALIZED (SELECT u, v FROM und"
        " UNION ALL SELECT v AS u, u AS v FROM und),",
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS v FROM sym),",
        "k0 AS (SELECT CAST(0 AS BIGINT) AS k)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT a.v, COALESCE(dc.c, 0) AS d
  FROM a{p} a LEFT JOIN (
    SELECT s.u AS v, CAST(COUNT(*) AS BIGINT) AS c FROM sym s
    JOIN a{p} x ON x.v = s.u JOIN a{p} y ON y.v = s.v GROUP BY s.u
  ) dc ON dc.v = a.v),
k{r} AS (SELECT GREATEST((SELECT k FROM k{p}),
         (SELECT CAST(MIN(d) AS BIGINT) FROM d{r})) AS k),
p{r} AS MATERIALIZED (
  SELECT v FROM d{r} WHERE d <= (SELECT k FROM k{r})),
a{r} AS MATERIALIZED (SELECT v FROM a{p} EXCEPT SELECT v FROM p{r})"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT v AS vid, CAST({r} AS INT) AS layer,"
        f" CAST((SELECT k FROM k{r}) AS INT) AS core FROM p{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "".join(parts)
        + "\n"
        + sel
        + f"\nUNION ALL SELECT v, CAST(0 AS INT), CAST(0 AS INT)"
        f" FROM a{rounds}"
    )


def _sql_fiedler(rounds: int = 4, scale: int = 1_000_000) -> str:
    """Unrolled deflated integer power iteration on σI − L
    (operators/fiedler.py): per round one neighbor-sum fold, one
    truncated-mean deflation, one max-rescale — every division
    sign-safe (magnitude // then reapply sign) so DuckDB's floor
    division matches Spark's truncation. Per-round CTEs MATERIALIZED
    per the MIS CTE-inlining rule."""
    h15 = _hex15_num("MD5(CAST(v AS VARCHAR))")
    parts = [
        f"WITH {_SQL_EVID},",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e"
        " WHERE src <> dst),",
        "deg AS MATERIALIZED (SELECT src AS v,"
        " CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),",
        "sg AS (SELECT CAST(2 * MAX(deg) AS BIGINT) AS sig FROM deg),",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),",
        f"h AS (SELECT v, CAST(({h15}) AS BIGINT) % {scale} AS h"
        " FROM deg),",
        "x0 AS MATERIALIZED (SELECT v,\n"
        "  h - (SELECT CAST(SUM(h) AS BIGINT) // (SELECT n FROM nn)"
        " FROM h) AS x FROM h)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
ms{r} AS (SELECT s.dst AS v, CAST(SUM(x.x) AS BIGINT) AS s
          FROM sym s JOIN x{p} x ON x.v = s.src GROUP BY s.dst),
y{r} AS MATERIALIZED (
  SELECT d.v,
         ((SELECT sig FROM sg) - d.deg) * x.x + COALESCE(ms.s, 0) AS y
  FROM deg d JOIN x{p} x ON x.v = d.v
  LEFT JOIN ms{r} ms ON ms.v = d.v),
sy{r} AS (SELECT CAST(SUM(y) AS BIGINT) AS sy FROM y{r}),
mn{r} AS (SELECT CASE WHEN sy < 0
                 THEN -((-sy) // (SELECT n FROM nn))
                 ELSE sy // (SELECT n FROM nn) END AS mn FROM sy{r}),
z{r} AS MATERIALIZED (
  SELECT v, y - (SELECT mn FROM mn{r}) AS z FROM y{r}),
mx{r} AS (SELECT CAST(MAX(ABS(z)) AS BIGINT) AS m FROM z{r}),
x{r} AS MATERIALIZED (
  SELECT v, CAST(CASE WHEN (SELECT m FROM mx{r}) <= 0 THEN 0
            WHEN z < 0
            THEN -((ABS(z) * {scale}) // (SELECT m FROM mx{r}))
            ELSE (z * {scale}) // (SELECT m FROM mx{r}) END
            AS BIGINT) AS x
  FROM z{r})"""
        )
    return (
        "".join(parts)
        + f"""
SELECT v AS vid, CAST(x AS BIGINT) AS f_scaled,
       CAST(CASE WHEN x >= 0 THEN 1 ELSE 0 END AS INT) AS side
FROM x{rounds}"""
    )


def _sql_fm_seed(n: str, max_bit: int) -> str:
    """FM seed mask from a non-negative hash column: single bit at
    ``min(trailing_zeros(n), max_bit)`` — pure integer mod ladder,
    the exact twin of ``operators/anf.py::_seed_mask``."""
    return (
        "CASE "
        + " ".join(
            f"WHEN {n} % {1 << (k + 1)} = {1 << k} THEN {1 << k}"
            for k in range(max_bit)
        )
        + f" ELSE {1 << max_bit} END"
    )


def _sql_fm_lub(m: str, max_bit: int) -> str:
    """Lowest-unset-bit position of a mask column (the FM observable) —
    twin of ``operators/anf.py::_lowest_unset``."""
    return (
        "CASE "
        + " ".join(
            f"WHEN {m} % {1 << (k + 1)} = {(1 << k) - 1} THEN {k}"
            for k in range(max_bit + 1)
        )
        + f" ELSE {max_bit + 1} END"
    )


def _sql_anf_parts(hops: int, registers: int, max_bit: int) -> str:
    """Unrolled FM bitmask propagation (operators/anf.py): md5 seed
    bits, per-hop BIT_OR fold over in-edges then per-vertex OR merge.
    Per-hop CTEs MATERIALIZED per the MIS CTE-inlining rule (each hop
    references the previous one twice)."""
    R = range(registers)
    hs = ", ".join(f"MD5(CAST(v AS VARCHAR) || ':{j}') AS h{j}" for j in R)
    ns = ", ".join(
        f"CAST(({_hex15_num(f'h{j}')}) AS BIGINT) AS n{j}" for j in R
    )
    ms = ",\n           ".join(
        f"{_sql_fm_seed(f'n{j}', max_bit)} AS m{j}" for j in R
    )
    parts = [
        f"WITH {_SQL_EVID},",
        "ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e"
        " WHERE src <> dst),",
        "verts AS (SELECT src AS v FROM ed UNION SELECT dst FROM ed),",
        f"""s0 AS MATERIALIZED (
    SELECT v, {ms}
    FROM (SELECT v, {ns} FROM (SELECT v, {hs} FROM verts)))""",
    ]
    for h in range(1, hops + 1):
        bs = ", ".join(f"BIT_OR(s.m{j}) AS b{j}" for j in R)
        us = ", ".join(f"s.m{j} | COALESCE(g.b{j}, 0) AS m{j}" for j in R)
        parts.append(
            f""",
g{h} AS (SELECT ed.src AS v, {bs}
         FROM ed JOIN s{h - 1} s ON s.v = ed.dst GROUP BY ed.src),
s{h} AS MATERIALIZED (SELECT s.v, {us}
         FROM s{h - 1} s LEFT JOIN g{h} g ON g.v = s.v)"""
        )
    return "".join(parts)


def _sql_anf(hops: int = 3, registers: int = 4, max_bit: int = 20) -> str:
    bsum = " + ".join(
        _sql_fm_lub(f"m{j}", max_bit) for j in range(registers)
    )
    sels = "\nUNION ALL ".join(
        f"SELECT CAST({h} AS INT) AS hop, COUNT(*) AS n_verts,"
        f" CAST(SUM({bsum}) AS BIGINT) AS sum_b FROM s{h}"
        for h in range(1, hops + 1)
    )
    return _sql_anf_parts(hops, registers, max_bit) + "\n" + sels


def _sql_anf_vertices(
    hops: int = 3, registers: int = 4, max_bit: int = 20
) -> str:
    bsum = " + ".join(
        _sql_fm_lub(f"m{j}", max_bit) for j in range(registers)
    )
    return (
        _sql_anf_parts(hops, registers, max_bit)
        + f"\nSELECT v AS vid, CAST({bsum} AS BIGINT) AS b_sum FROM s{hops}"
    )


def _sql_densest_parts(rounds: int) -> str:
    """Unrolled BKV peel rounds (operators/densest.py, ε=1): exact
    integer peel predicate ``dg·V ≤ 4·E``; MATERIALIZED per the MIS
    CTE rule (tables shrink geometrically, so the chain stays cheap)."""
    parts = [
        f"WITH {_SQL_EVID},",
        "g1 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v FROM e WHERE src <> dst)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS BIGINT) AS dg
    FROM (SELECT u AS x FROM g{r} UNION ALL SELECT v FROM g{r})
    GROUP BY x),
s{r} AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nv,
    CAST(COALESCE(SUM(dg), 0) // 2 AS BIGINT) AS ne FROM d{r})"""
        )
        if r < rounds:
            parts.append(
                f""",
p{r} AS (SELECT d.x FROM d{r} d, s{r} s WHERE d.dg * s.nv <= 4 * s.ne),
g{r + 1} AS MATERIALIZED (SELECT u, v FROM g{r}
    WHERE u NOT IN (SELECT x FROM p{r})
      AND v NOT IN (SELECT x FROM p{r}))"""
            )
    return "".join(parts)


def _sql_densest(rounds: int = 16) -> str:
    sels = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS rnd, nv AS n_verts, ne AS n_edges"
        f" FROM s{r}"
        for r in range(1, rounds + 1)
    )
    return _sql_densest_parts(rounds) + "\n" + sels


def _sql_densest_sub(rounds: int = 16) -> str:
    curve = "\nUNION ALL ".join(
        f"SELECT {r} AS rnd, nv, ne FROM s{r}" for r in range(1, rounds + 1)
    )
    ends = "\nUNION ALL ".join(
        f"SELECT u AS x, {r} AS rnd FROM g{r}"
        f" UNION ALL SELECT v, {r} FROM g{r}"
        for r in range(1, rounds + 1)
    )
    return (
        _sql_densest_parts(rounds)
        + f""",
curve AS ({curve}),
best AS (SELECT rnd FROM curve WHERE nv > 0
         ORDER BY CAST(ne AS DOUBLE) / CAST(nv AS DOUBLE) DESC, rnd ASC
         LIMIT 1),
ends AS ({ends})
SELECT DISTINCT t.x AS vid FROM ends t JOIN best b ON b.rnd = t.rnd"""
    )


def _sql_hll(p: int = 6, cap: int = 40) -> str:
    """HLL register twin (operators/hll.py): md5 low-p-bit register
    index, lowest-set-bit rank ladder on the remaining bits, 2^cap-
    scaled harmonic denominator — all integer except the one pinned
    α-estimate division."""
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    c_num = repr(alpha * m * m * float(1 << cap))
    rank = (
        "CASE "
        + " ".join(
            f"WHEN (h >> {p}) % {1 << (k + 1)} = {1 << k} THEN {k + 1}"
            for k in range(cap - 1)
        )
        + f" ELSE {cap} END"
    )
    return f"""WITH hx AS (
  SELECT event_type, MD5(CAST(user_id AS VARCHAR)) AS hh FROM events),
hn AS (SELECT event_type, CAST(({_hex15_num('hh')}) AS BIGINT) AS h FROM hx),
rg AS (SELECT event_type, h % {m} AS idx, MAX({rank}) AS rank
       FROM hn GROUP BY event_type, h % {m}),
sm AS (SELECT event_type, COUNT(*) AS nreg,
              CAST(SUM(CAST(1 AS BIGINT) << ({cap} - rank)) AS BIGINT) AS sp
       FROM rg GROUP BY event_type)
SELECT event_type, CAST({m} AS INT) AS m,
       CAST({m} - nreg AS INT) AS v_zero,
       CAST(sp + ({m} - nreg) * (CAST(1 AS BIGINT) << {cap}) AS BIGINT)
         AS s_scaled,
       FLOOR({c_num} / CAST(sp + ({m} - nreg) * (CAST(1 AS BIGINT) << {cap})
             AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS raw_est
FROM sm"""


def _sql_coloring(rounds: int = 4) -> str:
    """Unrolled Jones-Plassmann rounds (operators/coloring.py): fixed
    unique md5+vid priorities, candidates = strict local minima among
    active neighbors, color = mex of the already-colored neighborhood
    (MIN over a constant RANGE — max color by round r is r-1, so
    RANGE(rounds+1) always contains the mex).  MATERIALIZED per the
    MIS CTE rule."""

    def pri(x: str) -> str:
        return (
            f"MD5(CAST({x} AS VARCHAR)) || ':' || "
            f"LPAD(CAST({x} AS VARCHAR), 20, '0')"
        )

    parts = [
        f"WITH {_SQL_EVID},",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e WHERE src <> dst),",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),",
        "col0 AS (SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS INT) AS color\n"
        "         WHERE FALSE)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
e{r} AS (SELECT s.src, s.dst FROM sym s
         JOIN a{p} x ON x.v = s.src JOIN a{p} y ON y.v = s.dst),
m{r} AS (SELECT src AS v, MIN({pri('dst')}) AS mn FROM e{r} GROUP BY src),
cand{r} AS MATERIALIZED (SELECT a.v FROM a{p} a LEFT JOIN m{r} m ON m.v = a.v
         WHERE m.mn IS NULL OR {pri('a.v')} < m.mn),
nc{r} AS (SELECT s.src AS v, LIST(DISTINCT c.color) AS cs
          FROM sym s JOIN cand{r} cd ON cd.v = s.src
          JOIN col{p} c ON c.v = s.dst GROUP BY s.src),
mex{r} AS (SELECT n.v, CAST(MIN(t.i) AS INT) AS color
           FROM nc{r} n, RANGE({rounds + 1}) t(i)
           WHERE NOT LIST_CONTAINS(n.cs, CAST(t.i AS INT))
           GROUP BY n.v),
c{r} AS MATERIALIZED (SELECT cd.v, CAST(COALESCE(m.color, 0) AS INT) AS color
        FROM cand{r} cd LEFT JOIN mex{r} m ON m.v = cd.v),
col{r} AS MATERIALIZED (SELECT v, color FROM col{p}
        UNION ALL SELECT v, color FROM c{r}),
a{r} AS MATERIALIZED (SELECT v FROM a{p} EXCEPT SELECT v FROM cand{r})"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT v AS vid, color, CAST({r} AS INT) AS rnd FROM c{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "".join(parts)
        + "\n"
        + sel
        + f"\nUNION ALL SELECT v, CAST(-1 AS INT), CAST(0 AS INT) FROM a{rounds}"
    )


def _sql_featprop(hops: int = 2, scale: int = 1_000_000) -> str:
    """Unrolled quantized neighbor-mean hops
    (operators/featprop.py::neighborhood_mean): each hop is one
    BIGINT-unit sum / count division floored back to units — exact in
    both engines."""
    parts = [
        f"WITH {_SQL_EVID},",
        "verts AS (SELECT DISTINCT vid FROM\n"
        "  (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),",
        "od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),",
        f"f0 AS (SELECT v.vid, CAST(COALESCE(od.deg, 0) * {scale} AS BIGINT) AS u\n"
        "       FROM verts v LEFT JOIN od ON od.src = v.vid)",
    ]
    for k in range(1, hops + 1):
        parts.append(
            f""",
g{k} AS (SELECT e.dst AS vid,
               CAST(FLOOR(CAST(SUM(f.u) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS u
        FROM e JOIN f{k - 1} f ON f.vid = e.src GROUP BY e.dst),
f{k} AS (SELECT v.vid, CAST(COALESCE(g{k}.u, 0) AS BIGINT) AS u
        FROM verts v LEFT JOIN g{k} ON g{k}.vid = v.vid)"""
        )
    cols = ", ".join(
        f"CAST(f{k}.u AS DOUBLE) / {scale}.0 AS f{k}" for k in range(hops + 1)
    )
    joins = " ".join(
        f"JOIN f{k} ON f{k}.vid = f0.vid" for k in range(1, hops + 1)
    )
    parts.append(f"\nSELECT f0.vid, {cols} FROM f0 {joins}")
    return "".join(parts)


def _sql_level_sets(radius: int) -> list[str]:
    """Shared unrolled level-set CTEs (operators/harmonic.py's BFS):
    l_d = expand(l_{d-1}) EXCEPT earlier levels EXCEPT self — the
    building block of the harmonic and structural-virality oracles."""
    parts = [
        f"WITH {_SQL_EVID},",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e WHERE src <> dst),",
        "l1 AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS v FROM sym)",
    ]
    for d in range(2, radius + 1):
        earlier = " ".join(
            f"EXCEPT SELECT s, v FROM l{k}" for k in range(1, d)
        )
        parts.append(
            f""",
x{d} AS (SELECT DISTINCT l{d - 1}.s, y.dst AS v
         FROM l{d - 1} JOIN sym y ON y.src = l{d - 1}.v),
l{d} AS MATERIALIZED (SELECT s, v FROM x{d} {earlier}
         EXCEPT SELECT src AS s, src AS v FROM sym)"""
        )
    return parts


def _sql_harmonic(radius: int = 3) -> str:
    """Unrolled level sets; harmonic derived from the integer counts by
    ONE division (lcm idiom), matching both engine paths bit-for-bit."""
    import math

    lcm = math.lcm(*range(1, radius + 1))
    parts = _sql_level_sets(radius)
    for d in range(1, radius + 1):
        parts.append(
            f",\nc{d} AS (SELECT s, CAST(COUNT(*) AS INT) AS c FROM l{d} GROUP BY s)"
        )
    parts.append(",\nverts AS (SELECT DISTINCT src AS vid FROM sym)")
    cnt_sel = ", ".join(
        f"COALESCE(c{d}.c, 0) AS cnt_d{d}" for d in range(1, radius + 1)
    )
    units = " + ".join(
        f"{lcm // d} * CAST(COALESCE(c{d}.c, 0) AS BIGINT)"
        for d in range(1, radius + 1)
    )
    joins = " ".join(
        f"LEFT JOIN c{d} ON c{d}.s = verts.vid" for d in range(1, radius + 1)
    )
    parts.append(
        f"\nSELECT verts.vid, {cnt_sel},\n"
        f"       CAST({units} AS DOUBLE) / {lcm}.0 AS harmonic\n"
        f"FROM verts {joins}"
    )
    return "".join(parts)


def _sql_closeness(radius: int = 3) -> str:
    """Wasserman–Faust closeness twin (harmonic.py::closeness_bounded):
    same unrolled level sets; reach/totdist are BIGINT sums of the
    integer level counts, the score ONE IEEE division of two exact
    integers (reach², (n−1)·totdist)."""
    parts = _sql_level_sets(radius)
    for d in range(1, radius + 1):
        parts.append(
            f",\nc{d} AS (SELECT s, CAST(COUNT(*) AS INT) AS c FROM l{d} GROUP BY s)"
        )
    parts.append(",\nverts AS (SELECT DISTINCT src AS vid FROM sym)")
    reach = " + ".join(
        f"CAST(COALESCE(c{d}.c, 0) AS BIGINT)" for d in range(1, radius + 1)
    )
    tot = " + ".join(
        f"{d} * CAST(COALESCE(c{d}.c, 0) AS BIGINT)"
        for d in range(1, radius + 1)
    )
    joins = " ".join(
        f"LEFT JOIN c{d} ON c{d}.s = verts.vid" for d in range(1, radius + 1)
    )
    parts.append(
        f""",
base AS (SELECT verts.vid, {reach} AS reach, {tot} AS totdist
         FROM verts {joins}),
nn AS (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS n1 FROM base)
SELECT vid, reach, totdist,
       CASE WHEN totdist > 0 AND n1 > 0
            THEN CAST(reach * reach AS DOUBLE)
                 / CAST(n1 * totdist AS DOUBLE)
            ELSE 0.0 END AS closeness
FROM base, nn"""
    )
    return "".join(parts)


def _sql_virality(radius: int = 3) -> str:
    """Structural-virality twin (operators/virality.py): the harmonic
    level sets grouped by conversation (conv = vid // 100000 under the
    driver's vid encoding), pair counts and distance sums halved with
    integer division, ONE rounded double division for the mean."""
    parts = _sql_level_sets(radius)
    level_union = "\n  UNION ALL ".join(
        f"SELECT s, {d} AS d FROM l{d}" for d in range(1, radius + 1)
    )
    parts.append(
        f""",
vcnt AS (SELECT 'u' || CAST(src // 100000 AS VARCHAR) AS conv_id,
                COUNT(DISTINCT src) AS n_vertices
         FROM sym GROUP BY 1),
lv AS (
  {level_union}
),
tot AS (
  SELECT 'u' || CAST(s // 100000 AS VARCHAR) AS conv_id,
         CAST(COUNT(*) AS BIGINT) AS p2,
         CAST(SUM(d) AS BIGINT) AS w2
  FROM lv GROUP BY 1
)
SELECT v.conv_id, CAST(v.n_vertices AS INT) AS n_vertices,
       CAST(t.p2 // 2 AS BIGINT) AS n_pairs,
       CAST(t.w2 // 2 AS BIGINT) AS wiener,
       FLOOR(CAST(t.w2 AS DOUBLE) / CAST(t.p2 AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_dist
FROM vcnt v JOIN tot t ON t.conv_id = v.conv_id"""
    )
    return "".join(parts)


def _hex15_num(col: str) -> str:
    """BIGINT value of a hex column's first 15 digits (60 bits) — the
    INSTR idiom (_MD5_U32) widened; DuckDB 1.0 has no hex->int cast."""
    return " + ".join(
        f"(INSTR('0123456789abcdef', SUBSTRING({col}, {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )


def _sql_matching_parts(rounds: int) -> list[str]:
    """Shared unrolled local-min edge-round CTEs (operators/matching.py)
    — used by both the matching and the coarsen oracles."""
    parts = [
        f"WITH {_SQL_EVID},",
        "a0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u,\n"
        "        GREATEST(src, dst) AS v FROM e WHERE src <> dst)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
p{r} AS (SELECT u, v,
         MD5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR) || ':{r}') AS pr
         FROM a{p}),
vm{r} AS (SELECT vid, MIN(pr) AS mn FROM (
         SELECT u AS vid, pr FROM p{r} UNION ALL SELECT v, pr FROM p{r})
         GROUP BY vid),
w{r} AS MATERIALIZED (SELECT p.u, p.v FROM p{r} p
         JOIN vm{r} a ON a.vid = p.u AND a.mn = p.pr
         JOIN vm{r} b ON b.vid = p.v AND b.mn = p.pr),
m{r} AS MATERIALIZED (SELECT u AS vid FROM w{r} UNION SELECT v FROM w{r}),
a{r} AS MATERIALIZED (SELECT u, v FROM a{p}
         WHERE u NOT IN (SELECT vid FROM m{r})
           AND v NOT IN (SELECT vid FROM m{r}))"""
        )
    return parts


def _sql_matching(rounds: int = 4) -> str:
    """Unrolled local-min edge rounds: an edge wins round r when its
    md5(u:v:r) priority is the MIN at both endpoints; matched
    endpoints deactivate.  Per-round CTEs MATERIALIZED (the MIS-oracle
    inlining lesson)."""
    sel = "\nUNION ALL ".join(
        f"SELECT u, v, CAST({r} AS INT) AS rnd FROM w{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(_sql_matching_parts(rounds)) + "\n" + sel


def _sql_coarsen(rounds: int = 4) -> str:
    """Coarsen twin (matching.py::contract_matching): rename every
    matched v to its partner u over the directed edge table, drop
    self-loops, collapse parallel edges into integer weights."""
    mall = "\n  UNION ALL ".join(
        f"SELECT u, v FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "".join(_sql_matching_parts(rounds))
        + f""",
ren AS (SELECT v AS vid, u AS rep FROM (
  {mall})),
e2 AS (
  SELECT COALESCE(ra.rep, e.src) AS rs, COALESCE(rb.rep, e.dst) AS rd
  FROM e LEFT JOIN ren ra ON ra.vid = e.src
         LEFT JOIN ren rb ON rb.vid = e.dst
)
SELECT rs AS src, rd AS dst, CAST(COUNT(*) AS BIGINT) AS weight
FROM e2 WHERE rs <> rd GROUP BY rs, rd"""
    )


def _sql_latency(rounds: int = 4) -> str:
    """Unrolled Bellman-Ford twin of operators/sssp.py::bounded_sssp
    over the influence edges: weight = max(dst_turn - src_turn, 1),
    sources = the originator vids, one MIN re-aggregation per round."""
    parts = [
        f"WITH {_SQL_EDGES},",
        """ew AS (
  SELECT uid * 100000 + src_turn AS src,
         uid * 100000 + dst_turn AS dst,
         GREATEST(CAST(dst_turn - src_turn AS BIGINT), 1) AS w
  FROM edges
),
d0 AS MATERIALIZED (
  SELECT DISTINCT uid * 100000 + orig_turn AS vid, CAST(0 AS BIGINT) AS dist
  FROM edges
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT vid, MIN(dist) AS dist FROM (
    SELECT vid, dist FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS vid, p.dist + e.w AS dist
    FROM d{r - 1} p JOIN ew e ON e.src = p.vid
  ) GROUP BY vid)"""
        )
    parts.append(f"\nSELECT vid, dist FROM d{rounds}")
    return "".join(parts)


def _sql_msf(rounds: int = 8, jumps: int = 8) -> str:
    """Unrolled Borůvka twin of operators/msf.py over the influence
    edges (weight = max(dst_turn - src_turn, 1), the latency weights):
    per round — relabel by component, per-component ARG_MIN over both
    directions (the shared LPAD ord key), mutual-pair 2-cycle break,
    ``jumps`` pointer-doubling steps (2^jumps bounds the chain depth;
    components are conversation-local, <= ~100 vertices at gate SFs),
    then the component map re-labels through the contraction. Every
    CTE MATERIALIZED (the MIS-oracle inlining lesson)."""
    lpad = (
        "LPAD(CAST(w AS VARCHAR), 20, '0') || ':' || "
        "LPAD(CAST(u AS VARCHAR), 20, '0') || ':' || "
        "LPAD(CAST(v AS VARCHAR), 20, '0')"
    )
    parts = [
        f"WITH {_SQL_EDGES},",
        f"""ew AS (
  SELECT uid * 100000 + src_turn AS a, uid * 100000 + dst_turn AS b,
         GREATEST(CAST(dst_turn - src_turn AS BIGINT), 1) AS w
  FROM edges
),
e0 AS MATERIALIZED (
  SELECT u, v, w, {lpad} AS ord FROM (
    SELECT u, v, MIN(w) AS w FROM (
      SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v, w
      FROM ew WHERE a <> b
    ) GROUP BY u, v
  )
),
c0 AS MATERIALIZED (
  SELECT vid, vid AS comp FROM (
    SELECT u AS vid FROM e0 UNION SELECT v FROM e0)
)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
x{r} AS MATERIALIZED (
  SELECT ca.comp AS cu, cb.comp AS cv, e.u, e.v, e.w, e.ord
  FROM e0 e JOIN c{p} ca ON e.u = ca.vid JOIN c{p} cb ON e.v = cb.vid
  WHERE ca.comp <> cb.comp
),
ch{r} AS MATERIALIZED (
  SELECT c, ARG_MIN(o, ord) AS parent, ARG_MIN(u, ord) AS u,
         ARG_MIN(v, ord) AS v, ARG_MIN(w, ord) AS w
  FROM (SELECT cu AS c, cv AS o, u, v, w, ord FROM x{r}
        UNION ALL SELECT cv, cu, u, v, w, ord FROM x{r})
  GROUP BY c
),
ms{r} AS MATERIALIZED (SELECT DISTINCT u, v, w FROM ch{r}),
p{r}j0 AS MATERIALIZED (
  SELECT a.c, CASE WHEN b.parent = a.c AND a.c < a.parent
                   THEN a.c ELSE a.parent END AS parent
  FROM ch{r} a JOIN ch{r} b ON a.parent = b.c
)"""
        )
        for j in range(1, jumps + 1):
            parts.append(
                f""",
p{r}j{j} AS MATERIALIZED (
  SELECT a.c, b.parent FROM p{r}j{j - 1} a
  JOIN p{r}j{j - 1} b ON a.parent = b.c
)"""
            )
        parts.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT c.vid, COALESCE(p.parent, c.comp) AS comp
  FROM c{p} c LEFT JOIN p{r}j{jumps} p ON c.comp = p.c
)"""
        )
    sel = "\n  UNION ALL ".join(
        f"SELECT u, v, w FROM ms{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"\nSELECT u, v, w FROM (\n  {sel})")
    return "".join(parts)


def _sql_betweenness(n_seeds: int = 8, radius: int = 4) -> str:
    """Unrolled BFS-with-geodesic-counting twin of
    operators/betweenness.py::betweenness_seeded.  Two sigma-DP BFS
    expansions (from the md5-chosen seeds, then from the farthest-
    vertex targets); every per-level CTE is MATERIALIZED — DuckDB
    inlines CTEs by default and each level is referenced by every
    later level's exclusion list (the MIS-oracle lesson)."""

    def bfs(prefix: str, sources: str) -> list[str]:
        parts = [
            f"{prefix}0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM {sources})"
        ]
        for d in range(1, radius + 1):
            excl = "\n    ".join(
                f"AND NOT EXISTS (SELECT 1 FROM {prefix}{k} x WHERE x.s = p.s AND x.v = y.dst)"
                for k in range(d)
            )
            parts.append(
                f"""{prefix}{d} AS MATERIALIZED (
  SELECT p.s, y.dst AS v, CAST(SUM(p.sig) AS BIGINT) AS sig
  FROM {prefix}{d - 1} p JOIN sym y ON y.src = p.v
  WHERE TRUE {excl}
  GROUP BY p.s, y.dst)"""
            )
        union = "\n  UNION ALL ".join(
            f"SELECT s, v, {d} AS d, sig FROM {prefix}{d}"
            for d in range(radius + 1)
        )
        parts.append(f"v{prefix} AS MATERIALIZED (\n  {union})")
        return parts

    ctes = [
        _SQL_EVID.strip().removeprefix("WITH").strip(),
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst\n"
        "        UNION SELECT dst AS src, src AS dst FROM e WHERE src <> dst)",
        f"seeds AS MATERIALIZED (\n"
        f"  SELECT vid AS s FROM (SELECT DISTINCT src AS vid FROM sym)\n"
        f"  ORDER BY MD5(CAST(vid AS VARCHAR)) LIMIT {n_seeds})",
        *bfs("ls", "seeds"),
        "dm AS (SELECT s, MAX(d) AS d_st FROM vls WHERE d > 0 GROUP BY s)",
        "far AS MATERIALIZED (\n"
        "  SELECT a.s, ARG_MIN(a.v, MD5(CAST(a.v AS VARCHAR))) AS t, dm.d_st\n"
        "  FROM vls a JOIN dm ON dm.s = a.s AND a.d = dm.d_st\n"
        "  GROUP BY a.s, dm.d_st)",
        "targets AS MATERIALIZED (SELECT DISTINCT t AS s FROM far)",
        *bfs("lt", "targets"),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT a.v AS vid, CAST(COUNT(*) AS INT) AS n_pairs,
       CAST(SUM(a.sig * b.sig) AS BIGINT) AS paths
FROM far f
JOIN vls a ON a.s = f.s
JOIN vlt b ON b.s = f.t AND b.v = a.v
WHERE a.d + b.d = f.d_st AND a.v <> f.s AND a.v <> f.t
GROUP BY a.v"""
    )


def _sql_walks(steps: int = 4) -> str:
    """Unrolled hash-walk steps (operators/walks.py::hash_walks): at
    step t the walk moves to ARG_MIN(dst, md5(cur:dst:t)) over the
    current vertex's out-edges — the same pure-function transition the
    engine computes, so the corpus matches row-for-row."""
    parts = [
        f"WITH {_SQL_EVID},",
        "ed AS (SELECT DISTINCT src, dst FROM e),",
        "w0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM ed)",
    ]
    for t in range(1, steps + 1):
        parts.append(
            f""",
w{t} AS (
    SELECT walk_id,
           ARG_MIN(dst, MD5(CAST(cur AS VARCHAR) || ':'
                            || CAST(dst AS VARCHAR) || ':{t}')) AS cur
    FROM w{t - 1} JOIN ed ON ed.src = w{t - 1}.cur
    GROUP BY walk_id
)"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS INT) AS step, cur AS vid FROM w{t}"
        for t in range(steps + 1)
    )
    return "".join(parts) + "\n" + sel


def _sql_pii_redact() -> str:
    """Staged count-then-mask chain mirroring curation.redact_pii
    pattern-for-pattern (the SQL stages are generated from the same
    PII_PATTERNS list, so Spark and DuckDB cannot drift)."""
    from crgp_spark.operators.curation import PII_PATTERNS

    card = (
        "c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com> tel ' "
        "|| CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' "
        "|| LPAD(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' "
        "|| LPAD(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') "
        "|| ' https://example.com/u/' || CAST(c_custkey AS VARCHAR) "
        "|| ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) "
        "|| '.' || CAST(c_custkey % 250 AS VARCHAR)"
    )
    parts = [f"WITH s0 AS (SELECT c_custkey AS doc_id, {card} AS t FROM customer)"]
    prev, seen = "s0", []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, 1):
        carried = "".join(f"n_{c}, " for c in seen)
        parts.append(
            f",\ns{i} AS (SELECT doc_id, {carried}"
            f"CAST(LEN(REGEXP_EXTRACT_ALL(t, '{pat}')) AS INT) AS n_{name},\n"
            f"  REGEXP_REPLACE(t, '{pat}', '{repl}', 'g') AS t FROM {prev})"
        )
        prev = f"s{i}"
        seen.append(name)
    cols = ", ".join(f"n_{c}" for c in seen)
    parts.append(f"\nSELECT doc_id, t AS redacted, {cols} FROM {prev}")
    return "".join(parts)


def _sql_ktruss(k: int = 4, rounds: int = 2) -> str:
    """Unrolled edge-support peel rounds (operators/ktruss.py with
    fixed_rounds): support(u,v) = common-neighbor count over the
    current round's edge set; each round keeps edges with support
    >= k-2; output = round-``rounds`` supports still >= k-2."""
    parts = [
        f"WITH {_SQL_EVID},",
        "u0 AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v\n"
        "       FROM e WHERE src <> dst GROUP BY 1, 2),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"b{r - 1} AS (SELECT u, v FROM u{r - 1} "
            f"UNION ALL SELECT v AS u, u AS v FROM u{r - 1}),"
        )
        parts.append(
            f"s{r} AS (SELECT e.u, e.v, COUNT(y.v) AS sup\n"
            f"  FROM u{r - 1} e LEFT JOIN b{r - 1} x ON x.u = e.u\n"
            f"  LEFT JOIN b{r - 1} y ON y.u = e.v AND y.v = x.v\n"
            f"  GROUP BY e.u, e.v),"
        )
        if r < rounds:
            parts.append(
                f"u{r} AS (SELECT u, v FROM s{r} WHERE sup >= {k - 2}),"
            )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT u, v, CAST(sup AS INT) AS support FROM s{rounds} "
        f"WHERE sup >= {k - 2}"
    )
    return "\n".join(parts)


def _sql_truss_decomp(k_max: int = 5, rounds: int = 2) -> str:
    """Truss-decomposition twin (ktruss.py::truss_decomposition): the
    _sql_ktruss support-peel rounds chained across k = 3..k_max with
    per-phase thresholds; per-round CTEs MATERIALIZED (each edge set
    is referenced by both the next round and the phase-removal EXCEPT
    — the CLAUDE.md inlining rule).  Removed-at-k edges emit
    trussness k-1, final survivors k_max."""
    parts = [
        f"WITH {_SQL_EVID},",
        "u0 AS MATERIALIZED (SELECT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v\n"
        "       FROM e WHERE src <> dst GROUP BY 1, 2),",
    ]
    r = 0
    start = {3: "u0"}
    for k in range(3, k_max + 1):
        for _ in range(rounds):
            parts.append(
                f"b{r} AS (SELECT u, v FROM u{r} "
                f"UNION ALL SELECT v AS u, u AS v FROM u{r}),"
            )
            parts.append(
                f"s{r + 1} AS MATERIALIZED (SELECT e.u, e.v,"
                " COUNT(y.v) AS sup\n"
                f"  FROM u{r} e LEFT JOIN b{r} x ON x.u = e.u\n"
                f"  LEFT JOIN b{r} y ON y.u = e.v AND y.v = x.v\n"
                "  GROUP BY e.u, e.v),"
            )
            parts.append(
                f"u{r + 1} AS MATERIALIZED "
                f"(SELECT u, v FROM s{r + 1} WHERE sup >= {k - 2}),"
            )
            r += 1
        start[k + 1] = f"u{r}"
    parts[-1] = parts[-1].rstrip(",")
    sels = []
    for k in range(3, k_max + 1):
        sels.append(
            f"SELECT u, v, CAST({k - 1} AS INT) AS trussness FROM (\n"
            f"  SELECT u, v FROM {start[k]}\n"
            f"  EXCEPT SELECT u, v FROM {start[k + 1]})"
        )
    sels.append(
        f"SELECT u, v, CAST({k_max} AS INT) AS trussness "
        f"FROM {start[k_max + 1]}"
    )
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(sels)


def _sql_ppr() -> str:
    """Personalized PageRank with teleport/dangling mass restricted to
    the conversation originators, 3 iterations unrolled
    (operators/pagerank.py::personalized_pagerank — expression
    association mirrored term-for-term so only the 6dp rounding absorbs
    float-summation order)."""
    a = _PR_ALPHA
    parts = [
        _sql_evid(),
        """,
verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
srcs AS (SELECT DISTINCT uid * 100000 + orig_turn AS vid FROM edges),
sv AS (
    SELECT v.vid, CASE WHEN s.vid IS NOT NULL THEN 1 ELSE 0 END AS is_src
    FROM verts v LEFT JOIN srcs s ON s.vid = v.vid
),
ns AS (SELECT CAST(SUM(is_src) AS DOUBLE) AS s FROM sv),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY src),
p0 AS (SELECT vid, is_src / (SELECT s FROM ns) AS rank FROM sv)""",
    ]
    for it in range(_PR_ITERS):
        p, c = f"p{it}", f"p{it + 1}"
        parts.append(
            f""",
pdang{it} AS (
    SELECT COALESCE(SUM(r.rank), 0) AS dm FROM {p} r
    LEFT JOIN deg ON deg.src = r.vid WHERE deg.src IS NULL
),
pm{it} AS (
    SELECT e.dst AS vid, SUM(r.rank / deg.d) AS c
    FROM e JOIN deg ON deg.src = e.src JOIN {p} r ON r.vid = e.src
    GROUP BY e.dst
),
{c} AS (
    SELECT sv.vid,
           sv.is_src * ({1.0 - a} / (SELECT s FROM ns)
                        + ({a} * (SELECT dm FROM pdang{it})) / (SELECT s FROM ns))
           + {a} * COALESCE(m.c, 0) AS rank
    FROM sv LEFT JOIN pm{it} m ON m.vid = sv.vid
)"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f"\nSELECT vid, FLOOR(rank * 1000000.0 + 0.5) / 1000000.0 AS rank FROM p{_PR_ITERS}"
    )


_HITS_ITERS = 2


def _sql_hits() -> str:
    """HITS hubs/authorities, 2 integer rounds unrolled + one final L1
    normalization (operators/hits.py — the recurrence is exact BIGINT
    path-counting, so only the last division is floating point)."""
    parts = [
        _sql_evid(),
        """,
verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
h0 AS (SELECT vid, CAST(1 AS BIGINT) AS h FROM verts)""",
    ]
    last = 0
    for it in range(_HITS_ITERS):
        hp, ac, hc = f"h{it}", f"a{it + 1}", f"h{it + 1}"
        parts.append(
            f""",
{ac} AS (
  SELECT v.vid, CAST(COALESCE(m.s, 0) AS BIGINT) AS a
  FROM verts v LEFT JOIN (
    SELECT e.dst AS vid, CAST(SUM(h.h) AS BIGINT) AS s
    FROM e JOIN {hp} h ON h.vid = e.src GROUP BY e.dst) m ON m.vid = v.vid
),
{hc} AS (
  SELECT v.vid, CAST(COALESCE(m.s, 0) AS BIGINT) AS h
  FROM verts v LEFT JOIN (
    SELECT e.src AS vid, CAST(SUM(a.a) AS BIGINT) AS s
    FROM e JOIN {ac} a ON a.vid = e.dst GROUP BY e.src) m ON m.vid = v.vid
)"""
        )
        last = it + 1
    parts.append(
        f""",
tot AS (SELECT CAST(SUM(h.h) AS BIGINT) AS th, CAST(SUM(a.a) AS BIGINT) AS ta
        FROM h{last} h JOIN a{last} a ON a.vid = h.vid)
SELECT h.vid,
  FLOOR((CASE WHEN t.th > 0 THEN CAST(h.h AS DOUBLE) / CAST(t.th AS DOUBLE)
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS hub,
  FLOOR((CASE WHEN t.ta > 0 THEN CAST(a.a AS DOUBLE) / CAST(t.ta AS DOUBLE)
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS auth
FROM h{last} h JOIN a{last} a ON a.vid = h.vid, tot t"""
    )
    return "WITH " + "".join(parts)


def _sql_ic_sim(
    p_num: int = 3, p_den: int = 10, n_seeds: int = 20, rounds: int = 4
) -> str:
    """Independent-cascade twin (operators/icsim.py): md5-u32 live-edge
    coins (same portable-hash idiom as doc_sample), top-k out-degree
    seeds, BFS rounds unrolled with MATERIALIZED per-round CTEs (each
    frontier is referenced by every later round's EXCEPT — the
    CLAUDE.md exponential-inlining rule)."""
    parts = [
        _sql_evid(),
        f""",
lw AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           MD5('ic:' || CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS h
    FROM e)
  WHERE ({_MD5_U32}) % {p_den} < {p_num}),
sd AS (SELECT src AS vid FROM (
    SELECT src, COUNT(*) AS c FROM e GROUP BY src
    ORDER BY c DESC, src ASC LIMIT {n_seeds})),
f0 AS MATERIALIZED (SELECT vid FROM sd)""",
    ]
    for r in range(1, rounds + 1):
        earlier = " ".join(
            f"EXCEPT SELECT vid FROM f{k}" for k in range(r)
        )
        parts.append(
            f""",
f{r} AS MATERIALIZED (
  SELECT DISTINCT l.dst AS vid FROM lw l JOIN f{r - 1} f ON l.src = f.vid
  {earlier})"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT vid, CAST({r} AS INT) AS round FROM f{r}"
        for r in range(rounds + 1)
    )
    parts.append("\n" + union)
    return "WITH " + "".join(parts)


def _sql_sweep_cut(k_max: int = 100) -> str:
    """ACL sweep-cut twin (operators/sweepcut.py): PPR scores nested as
    a subquery of the existing ppr oracle, 6-dp-quantized to the same
    integer, then pure-integer cut/vol window sums over the top-k_max
    score/degree ordering; conductance FLOOR-rounded like the Spark
    side."""
    return f"""WITH {_sql_evid()},
pprv AS MATERIALIZED (SELECT vid, rank FROM ({_sql_ppr()}) q),
sc AS (SELECT vid, CAST(FLOOR(rank * 1000000.0 + 0.5) AS BIGINT) AS num
       FROM pprv),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst),
dg AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         SELECT a AS vid FROM und UNION ALL SELECT b FROM und)
       GROUP BY vid),
ranked AS MATERIALIZED (
  SELECT vid, deg, CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(num AS DOUBLE) / CAST(deg AS DOUBLE) DESC,
                    vid ASC) AS BIGINT) AS k
  FROM sc JOIN dg USING (vid)
  QUALIFY k <= {k_max}),
ia AS (SELECT GREATEST(ra.k, rb.k) AS k, CAST(COUNT(*) AS BIGINT) AS ni
       FROM und JOIN ranked ra ON ra.vid = und.a
                JOIN ranked rb ON rb.vid = und.b
       GROUP BY 1),
m2 AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS m2 FROM und),
curve AS (
  SELECT r.k, r.vid,
         CAST(SUM(r.deg) OVER (ORDER BY r.k) AS BIGINT) AS vol,
         CAST(SUM(COALESCE(ia.ni, 0)) OVER (ORDER BY r.k) AS BIGINT) AS cint
  FROM ranked r LEFT JOIN ia ON ia.k = r.k)
SELECT k, vid, vol, CAST(vol - 2 * cint AS BIGINT) AS cut,
  FLOOR((CASE WHEN LEAST(vol, m2.m2 - vol) > 0
              THEN CAST(vol - 2 * cint AS DOUBLE)
                   / CAST(LEAST(vol, m2.m2 - vol) AS DOUBLE)
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS conductance
FROM curve, m2"""


def _sql_eigencent(iters: int = 3, scale: int = 1_000_000) -> str:
    """Eigenvector-centrality twin (operators/eigencent.py): unrolled
    power iteration, per-round integer max-rescale via scalar
    subqueries; every per-round CTE MATERIALIZED (each r{k} is
    referenced three times — the CLAUDE.md exponential-inlining
    rule)."""
    parts = [
        _sql_evid(),
        f""",
verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
x0 AS (SELECT vid, CAST({scale} AS BIGINT) AS x FROM verts)""",
    ]
    for it in range(iters):
        xp, rc, xc = f"x{it}", f"r{it + 1}", f"x{it + 1}"
        parts.append(
            f""",
{rc} AS MATERIALIZED (
  SELECT v.vid, CAST(COALESCE(m.s, 0) AS BIGINT) AS r
  FROM verts v LEFT JOIN (
    SELECT e.dst AS vid, CAST(SUM(x.x) AS BIGINT) AS s
    FROM e JOIN {xp} x ON x.vid = e.src GROUP BY e.dst) m ON m.vid = v.vid
),
{xc} AS MATERIALIZED (
  SELECT vid, CASE WHEN (SELECT MAX(r) FROM {rc}) > 0
              THEN CAST((r * CAST({scale} AS BIGINT))
                        // (SELECT MAX(r) FROM {rc}) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS x
  FROM {rc}
)"""
        )
    last = f"x{iters}"
    parts.append(
        f""",
tot AS (SELECT CAST(SUM(x) AS BIGINT) AS t FROM {last})
SELECT x.vid, x.x AS eig_scaled,
  CASE WHEN t.t > 0 THEN CAST(x.x AS DOUBLE) / CAST(t.t AS DOUBLE)
       ELSE 0.0 END AS eig
FROM {last} x, tot t"""
    )
    return "WITH " + "".join(parts)


def _sql_salsa(iters: int = 2, scale: int = 1_000_000) -> str:
    """SALSA twin (operators/salsa.py): degree CTEs once, then the
    stochastic recurrence unrolled with BIGINT floor-division splits
    (DuckDB ``//`` = Spark ``div`` on non-negatives); only the final
    two L1 divisions are floating point, rounded boundary-safe."""
    parts = [
        _sql_evid(),
        f""",
verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
dout AS (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY src),
din AS (SELECT dst AS vid, CAST(COUNT(*) AS BIGINT) AS id FROM e GROUP BY dst),
h0 AS (SELECT vid, CAST({scale} AS BIGINT) AS h FROM verts)""",
    ]
    last = 0
    for it in range(iters):
        hp, ac, hc = f"h{it}", f"a{it + 1}", f"h{it + 1}"
        parts.append(
            f""",
{ac} AS (
  SELECT v.vid, CAST(COALESCE(m.s, 0) AS BIGINT) AS a
  FROM verts v LEFT JOIN (
    SELECT e.dst AS vid, CAST(SUM(h.h // o.od) AS BIGINT) AS s
    FROM e JOIN {hp} h ON h.vid = e.src
    JOIN dout o ON o.vid = e.src GROUP BY e.dst) m ON m.vid = v.vid
),
{hc} AS (
  SELECT v.vid, CAST(COALESCE(m.s, 0) AS BIGINT) AS h
  FROM verts v LEFT JOIN (
    SELECT e.src AS vid, CAST(SUM(a.a // i.id) AS BIGINT) AS s
    FROM e JOIN {ac} a ON a.vid = e.dst
    JOIN din i ON i.vid = e.dst GROUP BY e.src) m ON m.vid = v.vid
)"""
        )
        last = it + 1
    parts.append(
        f""",
tot AS (SELECT CAST(SUM(h.h) AS BIGINT) AS th, CAST(SUM(a.a) AS BIGINT) AS ta
        FROM h{last} h JOIN a{last} a ON a.vid = h.vid)
SELECT h.vid, h.h AS hub_scaled, a.a AS auth_scaled,
  FLOOR((CASE WHEN t.th > 0 THEN CAST(h.h AS DOUBLE) / CAST(t.th AS DOUBLE)
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS hub,
  FLOOR((CASE WHEN t.ta > 0 THEN CAST(a.a AS DOUBLE) / CAST(t.ta AS DOUBLE)
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS auth
FROM h{last} h JOIN a{last} a ON a.vid = h.vid, tot t"""
    )
    return "WITH " + "".join(parts)


_KATZ_ITERS = 3


def _sql_katz() -> str:
    """Katz centrality, 3 fixed-point rounds unrolled
    (operators/katz.py): x <- 1e6 + (A^T x) // 4 in exact BIGINTs, one
    IEEE division at the end for the L1-normalized column."""
    parts = [
        _sql_evid(),
        """,
verts AS MATERIALIZED (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
x0 AS MATERIALIZED (SELECT vid, CAST(1000000 AS BIGINT) AS x FROM verts)""",
    ]
    last = 0
    for it in range(_KATZ_ITERS):
        xp, xc = f"x{it}", f"x{it + 1}"
        parts.append(
            f""",
{xc} AS MATERIALIZED (
  SELECT v.vid,
         CAST(1000000 + (CAST(COALESCE(m.s, 0) AS BIGINT) // 4) AS BIGINT) AS x
  FROM verts v LEFT JOIN (
    SELECT e.dst AS vid, CAST(SUM(x.x) AS BIGINT) AS s
    FROM e JOIN {xp} x ON x.vid = e.src GROUP BY e.dst) m ON m.vid = v.vid
)"""
        )
        last = it + 1
    parts.append(
        f""",
tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tx FROM x{last})
SELECT x.vid, x.x AS katz_scaled,
  FLOOR(CAST(x.x AS DOUBLE) / CAST(t.tx AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS katz
FROM x{last} x, tot t"""
    )
    return "WITH " + "".join(parts)


def _sql_labelprop() -> str:
    """Synchronous min-tie-break label propagation, 2 supersteps unrolled
    (operators/labelprop.py)."""
    parts = [
        _sql_evid(),
        """,
und AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
nbrs AS (
    SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und)
),
verts AS (SELECT DISTINCT src AS vid FROM nbrs),
l0 AS (SELECT vid, vid AS label FROM verts)""",
    ]
    for it in range(2):
        p, c = f"l{it}", f"l{it + 1}"
        parts.append(
            f""",
hist{it} AS (
    SELECT n.src AS v, l.label, COUNT(*) AS cnt
    FROM nbrs n JOIN {p} l ON l.vid = n.dst GROUP BY n.src, l.label
),
pick{it} AS (
    SELECT v, label FROM (
        SELECT v, label,
               ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn
        FROM hist{it}
    ) WHERE rn = 1
),
{c} AS (
    SELECT l.vid, COALESCE(p.label, l.label) AS label
    FROM {p} l LEFT JOIN pick{it} p ON p.v = l.vid
)"""
        )
    return "WITH " + "".join(parts) + "\nSELECT vid, label FROM l2"


def _sql_louvain_parts(rounds: int) -> str:
    """Unrolled rotating-priority independent-set Louvain move rounds
    (operators/louvain.py) over a CTE ``lund (u < v, w BIGINT)``.
    Emits ladj/ldeg/lvx/lmm/lc0..lc{rounds}; every comparison is on
    BIGINTs (the ΔQ·2W² cross-multiplication), so the engines agree
    exactly."""
    parts = [
        """,
ladj AS MATERIALIZED (
  SELECT u AS v, v AS u, w FROM lund
  UNION ALL SELECT v AS v, u AS u, w FROM lund),
lvx AS MATERIALIZED (
  SELECT v AS vid, CAST(SUM(w) AS BIGINT) AS d FROM ladj GROUP BY v),
lmm AS (SELECT CAST(SUM(w) AS BIGINT) AS W FROM lund),
lc0 AS MATERIALIZED (SELECT vid, vid AS comm FROM lvx)"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
lph{r} AS (SELECT vid, MD5(CAST(vid AS VARCHAR) || ':{r}') AS h FROM lvx),
lpri{r} AS MATERIALIZED (
  SELECT vid, CAST(({_hex15_num("h")}) AS BIGINT) AS pri FROM lph{r}),
lmv{r} AS MATERIALIZED (
  SELECT p.vid, (mn.mn IS NULL OR p.pri < mn.mn) AS mov
  FROM lpri{r} p LEFT JOIN (
    SELECT a.v AS vid, MIN(x.pri) AS mn
    FROM ladj a JOIN lpri{r} x ON x.vid = a.u GROUP BY a.v) mn
  ON mn.vid = p.vid),
lk{r} AS MATERIALIZED (
  SELECT a.v, s.comm AS c, CAST(SUM(a.w) AS BIGINT) AS k
  FROM ladj a JOIN lc{r} s ON s.vid = a.u GROUP BY a.v, s.comm),
ltot{r} AS MATERIALIZED (
  SELECT s.comm AS c, CAST(SUM(x.d) AS BIGINT) AS tot
  FROM lc{r} s JOIN lvx x ON x.vid = s.vid GROUP BY s.comm),
lcand{r} AS MATERIALIZED (
  SELECT v, c, CAST(SUM(k) AS BIGINT) AS k FROM (
    SELECT v, c, k FROM lk{r}
    UNION ALL SELECT vid AS v, comm AS c, 0 AS k FROM lc{r})
  GROUP BY v, c),
lsc{r} AS MATERIALIZED (
  SELECT n.v, n.c,
         CASE WHEN n.c = s.comm THEN 1 ELSE 0 END AS is_own,
         2 * m.W * n.k
           - x.d * (t.tot - CASE WHEN n.c = s.comm THEN x.d ELSE 0 END)
           AS score
  FROM lcand{r} n
  JOIN lvx x ON x.vid = n.v
  JOIN lc{r} s ON s.vid = n.v
  JOIN ltot{r} t ON t.c = n.c, lmm m),
lb{r} AS MATERIALIZED (
  SELECT v, c FROM (
    SELECT v, c, ROW_NUMBER() OVER (PARTITION BY v
      ORDER BY score DESC, is_own DESC, c ASC) AS rn FROM lsc{r})
  WHERE rn = 1),
lc{r + 1} AS MATERIALIZED (
  SELECT s.vid,
         CASE WHEN mv.mov THEN COALESCE(b.c, s.comm) ELSE s.comm END AS comm
  FROM lc{r} s
  JOIN lmv{r} mv ON mv.vid = s.vid
  LEFT JOIN lb{r} b ON b.v = s.vid)"""
        )
    return "".join(parts)


def _sql_louvain() -> str:
    """Louvain level-1 moves (2 rounds) on the unweighted derived-edge
    graph."""
    return (
        "WITH "
        + _sql_evid()
        + """,
lund AS MATERIALIZED (
  SELECT u, v, CAST(1 AS BIGINT) AS w FROM (
    SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
    FROM e WHERE src <> dst))"""
        + _sql_louvain_parts(2)
        + "\nSELECT vid, CAST(comm AS BIGINT) AS comm FROM lc2"
    )


def _sql_louvain_coarse() -> str:
    """Louvain moves (2 rounds) on the WEIGHTED succession graph, then
    the Blondel phase-2 contraction: communities become supervertices,
    intra-community mass becomes self-loop rows."""
    return (
        f"WITH {_SQL_SUCCESSION},"
        + """
lund AS MATERIALIZED (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
         CAST(SUM(weight) AS BIGINT) AS w
  FROM g WHERE src <> dst GROUP BY 1, 2)"""
        + _sql_louvain_parts(2)
        + """
SELECT LEAST(a1.comm, a2.comm) AS src,
       GREATEST(a1.comm, a2.comm) AS dst,
       CAST(SUM(l.w) AS BIGINT) AS weight
FROM lund l
JOIN lc2 a1 ON a1.vid = l.u
JOIN lc2 a2 ON a2.vid = l.v
GROUP BY 1, 2"""
    )


# ---------------------------------------------------------------------------
# TPC-H-shape oracle twins (operators/relational.py).  All money math in
# DECIMAL(12,2) exactly as the Spark side, cast to DOUBLE at the end.


def _d(col: str) -> str:
    return f"CAST({col} AS DECIMAL(12,2))"


_D1 = "CAST(1 AS DECIMAL(12,2))"
_DISC_PRICE = f"{_d('l_extendedprice')} * ({_D1} - {_d('l_discount')})"

_SQL_TPCH = {
    # Q15 analog: revenue view + scalar-max subquery; DECIMAL-exact
    # max equality keeps ties deterministic
    "tpch_topsupp": f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC_PRICE}) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r AS DOUBLE) AS total_revenue
FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE r = (SELECT MAX(r) FROM rev)""",
    "tpch_pricing": f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM({_d('l_quantity')}) AS DOUBLE) AS sum_qty,
  CAST(SUM({_d('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
  CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({_DISC_PRICE} * ({_D1} + {_d('l_tax')})) AS DOUBLE) AS sum_charge,
  CAST(SUM({_d('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM({_d('l_extendedprice')}) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM({_d('l_discount')}) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus""",
    "tpch_topk_orders": f"""
WITH agg AS (
  SELECT o.o_orderkey,
         CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
         STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o.o_orderpriority
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND l.l_shipdate > TIMESTAMP '1998-01-01'
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT rk, o_orderkey, revenue, o_orderdate, o_orderpriority FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey) AS INT) AS rk
  FROM agg
) WHERE rk <= 10""",
    "tpch_region_revenue": f"""
SELECT n.n_name, CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name""",
    "tpch_lapsed": f"""
SELECT c_mktsegment, COUNT(*) AS n_custs,
       CAST(SUM({_d('c_acctbal')}) AS DOUBLE) AS total_acctbal
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01')
  AND NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment""",
    "tpch_smallqty": f"""
WITH li AS (
  SELECT l.l_partkey, l.l_extendedprice, p.p_brand,
         CAST(FLOOR(l.l_quantity * 100.0 + 0.5) AS BIGINT) AS qc
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#4','Brand#5')
),
pp AS (SELECT l_partkey, SUM(qc) AS sum_qc, COUNT(*) AS cnt FROM li GROUP BY l_partkey)
SELECT p_brand,
       CAST(SUM({_d('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM li JOIN pp ON li.l_partkey = pp.l_partkey
WHERE li.qc * 5 * pp.cnt < pp.sum_qc
GROUP BY p_brand""",
    "tpch_promo": f"""
SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_DISC_PRICE}
                     ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS total_revenue,
       100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_DISC_PRICE}
                             ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS promo_share_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-02-01'""",
    "tpch_rollup": f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "tpch_custdist": """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_custkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT n_orders, COUNT(*) AS n_custs FROM per_cust GROUP BY n_orders""",
    "tpch_window": """
SELECT c_mktsegment, rk, o_orderkey, o_custkey, totalprice FROM (
  SELECT c.c_mktsegment,
         CAST(ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
              ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INT) AS rk,
         o.o_orderkey, o.o_custkey, o.o_totalprice AS totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rk <= 5""",
    # Q4 analog: correlated EXISTS
    "tpch_exists": """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority""",
    # Q21 analog: EXISTS + NOT EXISTS on the fact table
    "tpch_notexists": """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey FROM lineitem l
  WHERE l.l_returnflag = 'R'
    AND EXISTS (SELECT 1 FROM orders o
                WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
),
blame AS (
  SELECT s.s_name, COUNT(*) AS numwait
  FROM l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_returnflag = 'R')
  GROUP BY s.s_name
)
SELECT rk, s_name, numwait FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY numwait DESC, s_name) AS INT) AS rk
  FROM blame
) WHERE rk <= 10""",
    # Q16 analog: COUNT(DISTINCT) + NOT IN (anti-join; s_suppkey non-null)
    "tpch_suppcnt": """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size""",
    # Q11 analog: scalar-subquery threshold; exact BIGINT 1e-4 money units
    "tpch_scalar": """
WITH nat AS (SELECT s_suppkey FROM supplier s JOIN nation n
             ON s.s_nationkey = n.n_nationkey WHERE n.n_name = 'NATION_7'),
li AS (
  SELECT l_partkey,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
         * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS units
  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM nat)
),
per AS (SELECT l_partkey, CAST(SUM(units) AS BIGINT) AS val_units
        FROM li GROUP BY l_partkey)
SELECT l_partkey, CAST(val_units AS DOUBLE) / 10000.0 AS part_value
FROM per
WHERE val_units * 1000 > (SELECT CAST(SUM(units) AS BIGINT) FROM li) * 1""",
    # Q6 analog: pure scan-agg band predicate (exact integer cents)
    "tpch_forecast": f"""
SELECT CAST(SUM({_d('l_extendedprice')} * {_d('l_discount')}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
  AND CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) < 2400""",
    # Q7 analog: bidirectional two-nation trade volume per year
    "tpch_volume": f"""
WITH n2 AS (SELECT n_nationkey, n_name FROM nation
            WHERE n_name IN ('NATION_20', 'NATION_11')),
s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
      JOIN n2 ON s_nationkey = n_nationkey),
c AS (SELECT c_custkey, n_name AS cust_nation FROM customer
      JOIN n2 ON c_nationkey = n_nationkey)
SELECT supp_nation, cust_nation,
       CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN c ON o.o_custkey = c.c_custkey
JOIN s ON l.l_suppkey = s.s_suppkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND ((supp_nation = 'NATION_20' AND cust_nation = 'NATION_11')
    OR (supp_nation = 'NATION_11' AND cust_nation = 'NATION_20'))
GROUP BY supp_nation, cust_nation, l_year""",
    # Q8 analog: supplier-nation market share per year (same conditional
    # aggregate for numerator and denominator; FLOOR-rounded share)
    "tpch_share": f"""
WITH rn AS (SELECT n_nationkey FROM nation JOIN region
            ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
      JOIN nation ON s_nationkey = n_nationkey),
j AS (
  SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
         {_DISC_PRICE} AS vol, s.supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN s ON l.l_suppkey = s.s_suppkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-01-01'
    AND o.o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_nationkey IN (SELECT n_nationkey FROM rn))
)
SELECT o_year,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_9' THEN vol
                ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS nation_volume,
  CAST(SUM(vol) AS DOUBLE) AS total_volume,
  FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_9' THEN vol
                      ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
        / CAST(SUM(vol) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
FROM j GROUP BY o_year""",
    # Q10 analog: returned-item revenue per customer, top-k
    "tpch_returned": f"""
WITH o AS (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-04-01'),
per AS (
  SELECT o.o_custkey, SUM({_DISC_PRICE}) AS rev
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY o.o_custkey
)
SELECT rk, c_custkey, c_name, n_name, revenue, acctbal FROM (
  SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(per.rev AS DOUBLE) AS revenue,
         c.c_acctbal AS acctbal,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(per.rev AS DOUBLE) DESC, c.c_custkey) AS INT) AS rk
  FROM per JOIN customer c ON per.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
) WHERE rk <= 20""",
    # Q18 analog: HAVING-subquery group filter + join-back, top-k
    "tpch_bigorders": """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sum_qc
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 25000
)
SELECT rk, o_orderkey, c_custkey, c_name, o_orderdate, totalprice, sum_qty FROM (
  SELECT o.o_orderkey, c.c_custkey, c.c_name,
         STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o.o_totalprice AS totalprice,
         CAST(big.sum_qc AS DOUBLE) / 100.0 AS sum_qty,
         CAST(ROW_NUMBER() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INT) AS rk
  FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rk <= 20""",
    # Q22 analog: scalar-avg subquery threshold + NOT EXISTS
    # (relational.py::prospect_customers; exact BIGINT-cents cross-multiply)
    "tpch_prospects": """
WITH cust AS (
  SELECT c_custkey, n_name,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3','NATION_8','NATION_13','NATION_18','NATION_23')
),
pos AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS pos_sum, COUNT(*) AS pos_cnt
        FROM cust WHERE bal_cents > 0)
SELECT n_name, COUNT(*) AS n_custs,
       CAST(CAST(SUM(bal_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_bal
FROM cust, pos
WHERE bal_cents * pos_cnt > pos_sum
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cust.c_custkey
                  AND o.o_totalprice > 400000.0)
GROUP BY n_name""",
    # Q20 analog: per-group dominance threshold + semi-join chain
    "tpch_dominant": """
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc
  FROM lineitem
),
per_sp AS (SELECT l_partkey, l_suppkey, CAST(SUM(qc) AS BIGINT) AS q_sp
           FROM li GROUP BY 1, 2),
per_p AS (SELECT l_partkey, CAST(SUM(qc) AS BIGINT) AS q_p
          FROM li GROUP BY 1),
dom AS (SELECT DISTINCT s.l_suppkey
        FROM per_sp s JOIN per_p p ON p.l_partkey = s.l_partkey
        WHERE s.q_sp * 8 > p.q_p)
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_5'
  AND s.s_suppkey IN (SELECT l_suppkey FROM dom)""",
    # Q12 analog: join + CASE conditional aggregation
    "tpch_shipmode": """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag""",
    # Q9 analog: nation x year profit in exact BIGINT 1e-5 money units
    "tpch_profit": """
SELECT n.n_name, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
       CAST(CAST(SUM(
         10 * CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
            * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))
         - CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
            * CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT)
       ) AS BIGINT) AS DOUBLE) / 100000.0 AS sum_profit,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name, o_year""",
    # Q19 analog: disjunction of conjunctive brand/size/quantity clauses
    "tpch_disjunct": f"""
SELECT CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE ((p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
        AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 100 AND 1100)
    OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
        AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 1000 AND 2000)
    OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 2000 AND 3000))""",
    # Q2 analog: correlated-min subquery + join-back. IEEE division of
    # exactly-representable integers and MIN are bit-identical across
    # engines, so the unit == min equality is safe; FLOOR-rounding only
    # for display.
    "tpch_corrmin": """
WITH li AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
         CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qc
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#2'
),
u AS (SELECT l_partkey, l_suppkey,
             CAST(pc AS DOUBLE) / CAST(qc AS DOUBLE) AS unit FROM li),
atmin AS (
  SELECT * FROM u u1
  WHERE unit = (SELECT MIN(unit) FROM u u2 WHERE u2.l_partkey = u1.l_partkey)
),
named AS (
  SELECT a.l_partkey, s.s_name, n.n_name,
         FLOOR(MIN(a.unit) * 10000.0 + 0.5) / 10000.0 AS min_unit_price
  FROM atmin a
  JOIN supplier s ON a.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY a.l_partkey, s.s_name, n.n_name
)
SELECT rk, l_partkey, s_name, n_name, min_unit_price FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY l_partkey, s_name, n_name) AS INT) AS rk
  FROM named
) WHERE rk <= 20""",
}


# ---------------------------------------------------------------------------
# entry / queries / oracle_sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: top-20 most influential
    turns of the transcript-derived influence-edge table by out-degree."""
    return q_top_influencers(spark, "/root/testdata/sf0.001")


def q_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(_events(spark, sf_dir))
    return t.select("conv_id", "turn_idx", "role", "text")


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation profile (operators/convstats.py): single-shuffle
    integer-exact stats of every conversation in the transcripts payload
    — the curation gate that decides which conversations feed the
    derivation (reference per-cascade counters, statistics.rs:17-131)."""
    from crgp_spark.operators.convstats import conversation_profile

    return conversation_profile(transcripts_from_events(_events(spark, sf_dir)))


def q_activations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(_events(spark, sf_dir))
    from crgp_spark.derive import prepare_turns

    return first_activations(prepare_turns(t)).select(
        "conv_id", "participant", "act_turn"
    )


def q_derive_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edge_turns(spark, sf_dir).select(
        "conv_id",
        "src_turn",
        "src_participant",
        "dst_turn",
        "dst_participant",
        "orig_turn",
    )


def q_stream_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming derivation under the hard gate: run the incremental
    (foreachBatch + manifest) path over the sf transcripts with
    byte-capped availableNow epochs and return the committed edges —
    the oracle is the BATCH derive_edges SQL, i.e. the stream==batch
    contract itself is what the driver hashes (VERDICT r2 ask #2;
    reference epoch loop: run.rs:118-129).

    Input files are partitioned BY CONVERSATION so every conversation's
    turns land in one epoch regardless of file-listing order — the
    same stable-order input contract the reference asserts on its
    retweet file (get.rs:142-147), made order-robust per epoch."""
    import shutil

    from crgp_spark.streaming.incremental import IncrementalDeriver, stream_derive

    work = "/tmp/crgp_stream_entry"
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    t = transcripts_from_events(_events(spark, sf_dir))
    t.repartition(8, "conv_id").write.parquet(in_dir)
    stream_derive(
        spark,
        in_dir,
        os.path.join(work, "state"),
        max_files_per_trigger=None,
        max_bytes_per_trigger=128 * 1024,  # several epochs at any sf
    )
    deriver = IncrementalDeriver(spark, os.path.join(work, "state"))
    return deriver.edges().select(
        "conv_id",
        "src_turn",
        "src_participant",
        "dst_turn",
        "dst_participant",
        "orig_turn",
    )


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation under the hard gate: drain
    the sf events through Structured Streaming in capped micro-batches
    and hash the final windowed totals against the batch GROUP BY SQL.
    Integer-cents accumulation makes the result independent of
    micro-batch boundaries and summation order, so stream==batch holds
    bit-for-bit (streaming/windows.py)."""
    import shutil

    from crgp_spark.streaming.windows import stream_window_counts

    work = "/tmp/crgp_stream_window"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_window_counts(
        spark, work, window="1 hour", max_files_per_trigger=2
    )


def q_stream_dimjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join under the hard gate: the events
    stream enriched against a broadcast customer-dimension SNAPSHOT
    (sources/snapshot.py HEAD read), aggregated per market segment —
    proven equal to the batch join across epoch boundaries
    (streaming/windows.py::stream_dim_join)."""
    import shutil

    from crgp_spark.sources.snapshot import SnapshotTable
    from crgp_spark.streaming.windows import stream_dim_join

    work = "/tmp/crgp_stream_dimjoin"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(
        os.path.join(work, "facts")
    )
    t = SnapshotTable(os.path.join(work, "dim"))
    t.overwrite(_tbl(spark, sf_dir, "customer"))
    return stream_dim_join(
        spark,
        os.path.join(work, "facts"),
        t.read(spark),
        key_expr="user_id + 1",
        dim_key="c_custkey",
        attr_col="c_mktsegment",
    )


def q_stream_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min heavy hitters under the hard gate: the 4x64
    counter grid maintained in the streaming state store across capped
    micro-batches, then the drained grid scores the exact top-20 — the
    grid is a commutative monoid so the oracle is the SAME SQL as the
    batch heavy_hitters entry
    (streaming/windows.py::stream_heavy_hitters)."""
    import shutil

    from crgp_spark.streaming.windows import stream_heavy_hitters

    work = "/tmp/crgp_stream_hh"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_heavy_hitters(
        spark, work, "user_id", k=20, depth=4, width=64,
        max_files_per_trigger=2,
    )


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed sessionization with the native session_window
    state-store operator, gated against the batch lag/gap SQL (split
    only on > gap, the operator's boundary semantics). Epoch micros, counts
    and value cents are all integer-derived, so stream==batch holds
    bit-for-bit across any micro-batch slicing
    (streaming/windows.py::stream_sessions)."""
    import shutil

    from crgp_spark.streaming.windows import stream_sessions

    work = "/tmp/crgp_stream_sessions"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_sessions(spark, work, max_files_per_trigger=3)


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the same user's most
    recent prior-or-equal purchase (operators/asof.py — union+window
    idiom, one shuffle, no join blow-up; oracle = the identical
    LAST_VALUE IGNORE NULLS construction)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", ts_micros("ts").alias("pts"), "value"
    )
    out = asof_join(left, right, on="user_id", ts="ts", right_cols=["pts", "value"])
    return out.select(
        "event_id",
        "user_id",
        ts_micros("ts").alias("ts_us"),
        F.col("pts_asof").alias("purchase_ts_us"),
        F.col("value_asof").alias("purchase_value"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (operators/rangejoin.py): events joined to the
    session intervals containing them — the range predicate turned into
    a (key, bucket) equi-join with exact post-filter; oracle = the
    naive BETWEEN join (identical result by construction)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.rangejoin import range_join_banded
    from crgp_spark.operators.sessions import sessionize

    ev = _events(spark, sf_dir)
    s = sessionize(ev).select(
        "user_id", "session_id", ts_micros("ts").alias("us")
    )
    bounds = s.groupBy("user_id", "session_id").agg(
        F.min("us").alias("s_start"), F.max("us").alias("s_end")
    )
    points = ev.select("event_id", "user_id", ts_micros("ts").alias("ts_us"))
    out = range_join_banded(
        points, bounds, key="user_id", ts="ts_us",
        start="s_start", end="s_end", band=3_600_000_000,
    )
    return out.select(
        "event_id", "user_id", F.col("session_id").cast("long").alias("session_id")
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed exact-dedup under the hard gate: min/count per content
    digest maintained in the streaming state store across capped
    micro-batches; oracle = the batch exact_dedup SQL (stream==batch —
    MIN/COUNT are order-independent monoids)."""
    import shutil

    from crgp_spark.streaming.windows import stream_exact_dedup

    work = "/tmp/crgp_stream_dedup"
    shutil.rmtree(work, ignore_errors=True)
    _docs(spark, sf_dir).repartition(8, "doc_id").write.parquet(work)
    return stream_exact_dedup(spark, work, max_files_per_trigger=2)


def q_stream_ivjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval self-join under the hard
    gate (streaming/windows.py::stream_interval_join): every click
    attributed to the same user's views in the preceding 24 h via the
    symmetric-hash-join state store; oracle = the batch interval join
    (inner time-bounded stream join == batch, epoch-independent) —
    5th gated streaming path."""
    import shutil

    from crgp_spark.streaming.windows import stream_interval_join

    work = "/tmp/crgp_stream_ivjoin"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "user_id").write.parquet(work)
    return stream_interval_join(
        spark, work, within_hours=24, max_files_per_trigger=2
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (sort-based `percentile` aggregate ==
    DuckDB quantile_cont bit-for-bit; operators/quantiles.py)."""
    from crgp_spark.operators.quantiles import value_quantiles

    return value_quantiles(_events(spark, sf_dir))


def q_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile under contract test: the sketch's documented
    rank-error bound (eps = 1/accuracy) is VERIFIED per (key, pct)
    against exact ranks and returned as booleans the oracle pins to
    TRUE — the 100 TB drop-in tested, not asserted
    (operators/quantiles.py::value_quantiles_approx)."""
    from crgp_spark.operators.quantiles import value_quantiles_approx

    return value_quantiles_approx(_events(spark, sf_dir))


def q_top_influencers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edge_turns(spark, sf_dir)
    deg = e.groupBy("conv_id", "src_turn", "src_participant").agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    w_cols = [F.col("out_deg").desc(), F.col("conv_id"), F.col("src_turn")]
    from pyspark.sql import Window

    return (
        deg.withColumn("rk", F.row_number().over(Window.orderBy(*w_cols)))
        .filter(F.col("rk") <= 20)
        .select("rk", "conv_id", "src_turn", "src_participant", "out_deg")
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges_vid(spark, sf_dir)
    ranks = pagerank_df(spark, e, _graph_cfg(), fixed_iterations=_PR_ITERS)
    return ranks.select("vid", decimal_round(F.col("rank"), 6).alias("rank"))


def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges_vid(spark, sf_dir)
    return connected_components(spark, e, _graph_cfg()).select("vid", "component")


def q_succession(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed actor-succession graph over the event log: who acted
    immediately after whom on the same event_type channel, pairs kept at
    weight >= 3 (operators/transitions.py::succession_graph) — the
    cyclic directed input that q_scc labels."""
    from crgp_spark.operators.transitions import succession_graph

    return succession_graph(_events(spark, sf_dir), min_weight=3)


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the actor-succession graph
    (operators/scc.py: trim + forward coloring + backward sweep; oracle
    closes reachability with a recursive CTE and intersects mutual
    pairs). At sf0.01 the graph has a 65-SCC, a 3-SCC and 77 singleton
    components — non-trivial in both directions."""
    from crgp_spark.operators.scc import strongly_connected_components
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=3)
    return strongly_connected_components(
        spark, g, _graph_cfg(), algo_name="scc_entry"
    ).select("vid", "scc")


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest-arrival reachability
    (operators/temporalreach.py): seeds = every user_id % 17 == 0,
    released at their own FIRST event time; edges = first-day
    timestamped successions (temporal_edges). Arrival can only ride
    edges at-or-after the current arrival — the temporal constraint
    static BFS/components cannot express; at sf0.01 it leaves 22 of
    150 users unreached and gives every reached user a distinct exact
    arrival. Oracle = recursive-CTE (vid, t) state closure + MIN."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.temporalreach import (
        earliest_arrival,
        temporal_edges,
    )

    ev = _events(spark, sf_dir)
    edges = temporal_edges(
        ev.filter(
            F.col("ts")
            < F.lit("2024-01-02 00:00:00").cast("timestamp_ntz")
        )
    )
    seeds = (
        ev.filter(F.col("user_id") % 17 == 0)
        .groupBy(F.col("user_id").alias("vid"))
        .agg(F.min(ts_micros("ts")).alias("arrival"))
    )
    return earliest_arrival(spark, edges, seeds, _graph_cfg())


MOTIF_DELTA_US = 6 * 3600 * 1_000_000  # δ = 6 h

# CUSUM chart over per-type event value cents, k = 48.00, h = 500.00:
# the same closed prefix form as the engine (running sum + running min,
# S_0 = 0 included via the LEAST(0, ...) clamp). Shared verbatim by the
# batch entry and the streamed carry fold (stream == batch gate).
_SQL_CUSUM = """
WITH ev AS (SELECT event_type, EPOCH_US(ts) AS us, event_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
            FROM events),
s AS (SELECT event_type, ROW_NUMBER() OVER w AS rn, x,
             SUM(x * 1 - 4800) OVER (
               PARTITION BY event_type ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS S
      FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id))
SELECT event_type, CAST(rn AS INT) AS rn, x,
       S - LEAST(0, MIN(S) OVER (PARTITION BY event_type ORDER BY rn
           ROWS UNBOUNDED PRECEDING)) AS cusum_scaled,
       (S - LEAST(0, MIN(S) OVER (PARTITION BY event_type ORDER BY rn
           ROWS UNBOUNDED PRECEDING))) * 1 > 50000 * 1 AS alarm
FROM s"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift chart (operators/cusum.py, Page 1954) over per-type
    event values in integer cents: the recursive max(0, C+(x-k))
    statistic computed as ONE window pass via its closed prefix form
    C_t = S_t - min(0, min prefix S) — drift k = 48.00, alarm h =
    500.00, all BIGINT (first alarms land at rank 28..287 across the
    five types at sf0.01, so both alarm polarities are exercised)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.cusum import cusum_chart

    ev = _events(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    return cusum_chart(
        ev,
        ["event_type"],
        [ts_micros("ts"), "event_id"],
        F.col("cents"),
        k_num=4800,
        k_den=1,
        h_num=50000,
        h_den=1,
    )


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed CUSUM drift watch (streaming/cusum.py): the SAME chart
    as `cusum`, but folded through a 3-number keyed-state carry
    (rows, prefix sum, prefix min) across 4 time-ordered micro-batches —
    O(|keys|) state regardless of history. Stream == batch is the gate:
    this entry shares the batch cusum oracle verbatim."""
    import shutil

    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.cusum import stream_cusum
    from crgp_spark.streaming.scd import write_time_chunks

    work = "/tmp/crgp_stream_cusum"
    shutil.rmtree(work, ignore_errors=True)
    feed = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        ts_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    )
    write_time_chunks(feed, work, n_chunks=4)
    ch = stream_cusum(
        spark, work, k_num=4800, k_den=1, h_num=50000, h_den=1
    )
    return ch.select(
        F.col("key").alias("event_type"), "rn", "x", "cusum_scaled", "alarm"
    )


def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition
    (timeseries.py::seasonal_decompose) of the daily per-type revenue
    series: centered 7-day RANGE-frame trend (NULL at edges), phase
    means of the integer detrended values, residual. All moments exact
    BIGINTs; each float output is 1-2 correctly-rounded IEEE ops on
    identical integers, so the oracle hash-matches bit-for-bit."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.timeseries import seasonal_decompose

    daily = (
        _events(spark, sf_dir)
        .withColumn(
            "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        )
        .withColumn("us", ts_micros("ts"))
        .withColumn("day", F.expr("us div 86400000000"))
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
    )
    return seasonal_decompose(daily, ["event_type"], "day", "x", period=7)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value summary
    (robust.py::winsorized_stats): clamp each tail's 5% (k = n·5//100
    rows, all-integer rank convention) to the surviving order
    statistics and average — exact BIGINT cutoffs and sums, one IEEE
    division for the robust mean."""
    from crgp_spark.operators.robust import winsorized_stats

    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    return winsorized_stats(
        ev,
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        trim_pct=5,
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type
    (regress.py::theil_sen) over the same daily revenue series the
    seasonal/trend entries use: slope = median pairwise slope (29%
    breakdown), intercept = median residual. Every slope is one IEEE
    division of exact integers and medians are order statistics —
    hash-exact with no epsilon."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.regress import theil_sen

    daily = (
        _events(spark, sf_dir)
        .withColumn(
            "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        )
        .withColumn("us", ts_micros("ts"))
        .withColumn("day", F.expr("us div 86400000000"))
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
    )
    return theil_sen(daily, "event_type", "day", "x")


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition (operators/coreness.py): the exact core
    number of EVERY vertex of the weight>=2 succession graph via the
    Montresor h-index iteration (c(v) <- min(c, h-index of neighbor
    estimates); fixpoint = peeling core number). Spark runs to the
    fixpoint; the oracle unrolls 18 MATERIALIZED h-index rounds —
    convergence at sf0.01 is round 14, and past-fixpoint rounds are the
    identity, so any R >= convergence replays exactly."""
    from crgp_spark.operators.coreness import core_decomposition
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=2)
    return core_decomposition(spark, g.select("src", "dst"), cfg=_graph_cfg())


def q_richclub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve (operators/richclub.py, Zhou &
    Mondragón 2004) of the weight>=2 succession graph — the same input
    q_coreness decomposes: for every observed degree k, how densely the
    vertices of degree > k link to EACH OTHER. Never a per-k loop: each
    edge survives below min(deg_u, deg_v), so the whole curve is two
    degree histograms suffix-summed over the distinct-degree spine.
    Exact BIGINT counts; φ is one IEEE division floor-rounded to 6 dp."""
    from crgp_spark.operators.richclub import rich_club
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=2)
    return rich_club(g.select("src", "dst"))


def q_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard (graphstats.py::edge_jaccard) of
    the weight>=2 succession graph: triangle support per edge + exact
    degrees; jaccard = one IEEE division (0.0 marks local bridges).
    Oracle = the same wedge enumeration in SQL."""
    from crgp_spark.operators.graphstats import edge_jaccard
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=2)
    return edge_jaccard(g.select("src", "dst"))


def q_sparsify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local similarity sparsification
    (graphstats.py::sparsify_topk): keep an edge iff it ranks in
    EITHER endpoint's top-2 by neighborhood Jaccard — the
    community-preserving backbone. Composes the gated edge_jaccard
    surface with a per-vertex WindowGroupLimit."""
    from crgp_spark.operators.graphstats import edge_jaccard, sparsify_topk
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=2)
    return sparsify_topk(edge_jaccard(g.select("src", "dst")), k=2)


# shared CTE body: weight>=2 succession graph -> per-edge common/degree
_SQL_EJ_BODY = """g AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT user_id AS src,
             LEAD(user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS dst
      FROM events) s
    WHERE dst IS NOT NULL AND src <> dst
    GROUP BY src, dst HAVING COUNT(*) >= 2)),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM g WHERE src <> dst),
nb AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
deg AS MATERIALIZED (
  SELECT u AS vid, CAST(COUNT(*) AS BIGINT) AS deg FROM nb GROUP BY u),
com AS (SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS c
        FROM und e JOIN nb n1 ON n1.u = e.u
        JOIN nb n2 ON n2.u = e.v AND n2.v = n1.v
        GROUP BY e.u, e.v),
ej AS (
  SELECT e.u, e.v, COALESCE(c.c, 0) AS common,
         du.deg AS deg_u, dv.deg AS deg_v,
         CASE WHEN du.deg + dv.deg - 2 - COALESCE(c.c, 0) > 0
              THEN CAST(COALESCE(c.c, 0) AS DOUBLE)
                   / (du.deg + dv.deg - 2 - COALESCE(c.c, 0))
              ELSE 0.0 END AS jaccard
  FROM und e JOIN deg du ON du.vid = e.u JOIN deg dv ON dv.vid = e.v
  LEFT JOIN com c ON c.u = e.u AND c.v = e.v)"""


def q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup (operators/hierarchy.py): collapse the derived
    influence DAG to its most-recent-influencer parent forest
    (parent = MAX src with src < dst, acyclic by construction), then
    depth / root / subtree size per vertex via pointer-doubled ancestor
    closure — ⌈log2 depth⌉ co-partitioned join rounds, never a
    per-level loop. Oracle = recursive-CTE ascent (each vertex has ONE
    parent, so the UNION ALL closure is duplicate-free) + ARG_MAX root
    + descendant counts."""
    from crgp_spark.operators.hierarchy import parent_tree, tree_stats

    parents = parent_tree(_edges_vid(spark, sf_dir))
    return tree_stats(spark, parents, _graph_cfg())


_SQL_HIERARCHY = f"""WITH RECURSIVE {_SQL_EVID},
par AS MATERIALIZED (
  SELECT dst AS vid, MAX(src) AS parent FROM e WHERE src < dst GROUP BY dst
),
verts AS MATERIALIZED (
  SELECT DISTINCT vid FROM (
    SELECT vid FROM par UNION ALL SELECT parent AS vid FROM par)
),
cl AS (
  SELECT vid, parent AS anc, CAST(1 AS BIGINT) AS d FROM par
  UNION ALL
  SELECT c.vid, p.parent AS anc, c.d + 1 AS d
  FROM cl c JOIN par p ON p.vid = c.anc
),
up AS (
  SELECT vid, MAX(d) AS depth, ARG_MAX(anc, d) AS root FROM cl GROUP BY vid
),
down AS (
  SELECT anc AS vid, COUNT(*) AS n_desc FROM cl GROUP BY anc
)
SELECT v.vid,
       CAST(COALESCE(u.depth, 0) AS BIGINT) AS depth,
       COALESCE(u.root, v.vid) AS root,
       CAST(COALESCE(dn.n_desc, 0) + 1 AS BIGINT) AS subtree_n
FROM verts v
LEFT JOIN up u ON u.vid = v.vid
LEFT JOIN down dn ON dn.vid = v.vid"""


def _sql_coreness(rounds: int) -> str:
    """Unrolled h-index oracle: per round, the SAME join + window +
    LEAST fold as the engine, each round MATERIALIZED (CLAUDE.md CTE
    rule — every round is referenced twice by the next)."""
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f"""c{r} AS MATERIALIZED (
  SELECT s.u, LEAST(s.c, h.h) AS c FROM c{r - 1} s JOIN (
    SELECT u, MAX(LEAST(cv, rn)) AS h FROM (
      SELECT e.u, cb.c AS cv,
             ROW_NUMBER() OVER (
               PARTITION BY e.u ORDER BY cb.c DESC, e.v) AS rn
      FROM e JOIN c{r - 1} cb ON cb.u = e.v) GROUP BY u) h
  ON h.u = s.u)"""
        )
    joined = ",\n".join(steps)
    return f"""WITH g AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT user_id AS src,
             LEAD(user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS dst
      FROM events) s
    WHERE dst IS NOT NULL AND src <> dst
    GROUP BY src, dst HAVING COUNT(*) >= 2)),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM g WHERE src <> dst),
e AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
c0 AS MATERIALIZED (SELECT u, COUNT(*) AS c FROM e GROUP BY u),
{joined}
SELECT u AS vid, CAST(c AS BIGINT) AS core FROM c{rounds}"""


# the 64-state isomorphism table and class spine, inlined into the
# triads oracle as DuckDB list literals (single source of truth:
# operators/triads.py)
_TRIAD_STATES_SQL = "[" + ",".join(f"'{c}'" for c in TRIAD_STATE_CLASS) + "]"
_TRIAD_NAMES_SQL = "[" + ",".join(f"'{c}'" for c in TRIAD_NAMES) + "]"


def q_triads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland-Leinhardt 16-class triad census (operators/triads.py)
    of the actor-succession graph at weight >= 2 — reciprocity,
    transitivity-vs-cycle balance and hierarchy in one exact-BIGINT
    table. Connected classes by dyad-pair enumeration (triangle-bound
    join), disconnected 003/012/102 by integer identities; at sf0.01
    all 16 classes are populated."""
    from crgp_spark.operators.transitions import succession_graph
    from crgp_spark.operators.triads import triad_census

    g = succession_graph(_events(spark, sf_dir), min_weight=2)
    return triad_census(g.select("src", "dst"))

# event-type → sequence code (operators/seqmatch.py); one char each
SEQ_CODES = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}
SEQ_PATTERN = "e+c"  # error streak resolved by a click

# shared by the batch `seqmatch` entry and the streamed
# `stream_seqmatch` twin (stream==batch contract: same oracle)
_SQL_SEQMATCH = f"""WITH coded AS (
  SELECT user_id AS key,
         CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              WHEN 'view' THEN 'v' END AS code, ts, event_id
  FROM events),
seqs AS (
  SELECT key, STRING_AGG(code, '' ORDER BY ts, event_id) AS seq
  FROM coded WHERE code IS NOT NULL GROUP BY key)
SELECT key, CAST(LENGTH(seq) AS BIGINT) AS seq_len,
       CAST(LEN(REGEXP_EXTRACT_ALL(seq, '{SEQ_PATTERN}')) AS BIGINT)
         AS n_hits
FROM seqs"""


def q_seqmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequential pattern census (operators/
    seqmatch.py): per user, the chronologically-ordered event-code
    string and the number of non-overlapping 'e+c' matches (an error
    streak resolved by a click) — the arbitrary-regular-language
    generalization of the funnel entry. One groupBy shuffle, then
    scan-speed string codegen; RE2-subset pattern so both engines
    count identically."""
    from crgp_spark.operators.seqmatch import (
        keyed_sequences,
        sequence_pattern_counts,
    )

    seqs = keyed_sequences(_events(spark, sf_dir), SEQ_CODES)
    return sequence_pattern_counts(seqs, SEQ_PATTERN)


def q_stream_seqmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequential-pattern census under the hard gate — the
    11th gated stream==batch path (streaming/sequences.py): per-key
    (us, event_id, code) multisets accumulate in the streaming state
    store across capped micro-batches (multiset union is a commutative
    monoid), the total order is rebuilt at drain, so the oracle is the
    SAME SQL as the batch `seqmatch` entry."""
    import shutil

    from crgp_spark.streaming.sequences import stream_sequence_counts

    work = "/tmp/crgp_stream_seqmatch"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_sequence_counts(
        spark, work, SEQ_CODES, SEQ_PATTERN, max_files_per_trigger=2
    )


def q_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """δ-temporal motif census (operators/motifs.py; Paranjape-Benson-
    Leskovec WSDM'17) over the actor-interaction stream: exact BIGINT
    counts of ping-pong (a→b,b→a), open 2-paths (a→b,b→c) and cyclic
    temporal triangles (a→b,b→c,c→a) whose strictly-ordered timestamps
    span ≤ 6 h — the time-respecting census static triangle counts
    (q_triangles) cannot express. Equi-joins on the shared vertex with
    the δ window as a residual range predicate; three 1-row aggregates
    folded broadcast-side."""
    from crgp_spark.operators.motifs import (
        temporal_interactions,
        temporal_motif_counts,
    )

    inter = temporal_interactions(_events(spark, sf_dir))
    return temporal_motif_counts(inter, MOTIF_DELTA_US)


def q_stream_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming temporal reachability under the hard gate — the 9th
    gated stream==batch path (streaming/temporal.py): the first-day
    event log replayed as a time-ordered file stream (range files with
    ascending mtimes), per-channel carry deriving the epoch-spanning
    LEAD edges, retained edges + warm-started fixpoint per epoch. The
    oracle is the SAME recursive-CTE SQL as the batch temporal_reach
    entry — stream == batch is the claim under test."""
    import shutil
    import time

    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.temporal import stream_earliest_arrival

    ev = _events(spark, sf_dir)
    day1 = ev.filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp_ntz")
    )
    work = "/tmp/crgp_stream_temporal"
    shutil.rmtree(work, ignore_errors=True)
    (
        day1.repartitionByRange(6, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .write.parquet(work)
    )
    parts = sorted(f for f in os.listdir(work) if f.startswith("part-"))
    t0 = time.time() - len(parts) * 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(work, f), (t0 + i * 10, t0 + i * 10))
    seeds = (
        ev.filter(F.col("user_id") % 17 == 0)
        .groupBy(F.col("user_id").alias("vid"))
        .agg(F.min(ts_micros("ts")).alias("arrival"))
    )
    return stream_earliest_arrival(
        spark, work, seeds, _graph_cfg(), max_files_per_trigger=2
    )


def q_graph_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed mixing summary of the actor-succession graph
    (graphstats.py::mixing_stats): reciprocity (fraction of edges whose
    reverse exists) + Newman out-in degree assortativity — exact BIGINT
    moments, float ops last."""
    from crgp_spark.operators.graphstats import mixing_stats
    from crgp_spark.operators.transitions import succession_graph

    return mixing_stats(succession_graph(_events(spark, sf_dir), min_weight=3))


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a deterministic 8-way hash partition of the
    succession graph (graphstats.py::modularity) — the community-quality
    metric as an exact rational (q_num/q_den BIGINTs, one final float
    division)."""
    from crgp_spark.operators.graphstats import modularity
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=3)
    verts = (
        g.select(F.col("src").alias("vid"))
        .unionByName(g.select(F.col("dst").alias("vid")))
        .distinct()
    )
    labels = verts.select(
        "vid", F.pmod(F.col("vid"), F.lit(8)).cast("long").alias("label")
    )
    return modularity(g, labels)


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain community detection, level-1 move phase (2
    rotating-priority independent-set rounds) on the derived-edge graph
    (operators/louvain.py) — integer-exact ΔQ·2W² scores, strict-gain
    moves, min-community tie-break."""
    from crgp_spark.operators.louvain import louvain_moves

    e = _edges_vid(spark, sf_dir)
    res = louvain_moves(spark, e, _graph_cfg(), rounds=2)
    return res.state.select("vid", "comm")


def q_leiden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leiden community detection, level 1 (operators/louvain.py::
    refine_partition): the Louvain move phase (2 rotating-priority
    independent-set rounds) followed by Traag et al. 2019's
    connectivity refinement — every community split into its connected
    parts (min-vid labels), so no community is ever internally
    disconnected. The oracle replays the louvain chain plus a
    recursive min-label pass over intra-community edges."""
    from crgp_spark.operators.louvain import (
        louvain_moves,
        refine_partition,
    )

    e = _edges_vid(spark, sf_dir)
    cfg = _graph_cfg()
    res = louvain_moves(spark, e, cfg, rounds=2)
    return refine_partition(
        spark, e, res.state.select("vid", "comm"), cfg
    )


def q_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-component diameter of the influence graph
    (operators/diameter.py): double-sweep lower bounds + the batched
    iFUB descent — every component's eccentricity question answered
    exactly with a handful of grouped BFS waves (ecc2's radius-2 bound
    could not say how far influence travels end to end). Oracle: the
    recursive all-pairs-BFS max per recursive-min-label component —
    exact at gate scale because conversations are shallow."""
    from crgp_spark.operators.diameter import component_diameters

    return component_diameters(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_louvain_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain on the WEIGHTED actor-succession graph (2 move rounds)
    followed by the Blondel phase-2 contraction
    (louvain.py::contract_communities): communities collapse to
    supervertices, intra-community mass becomes self-loop rows — the
    coarse graph level 2 would run on, gated for exact edge weights."""
    from crgp_spark.operators.louvain import (
        contract_communities,
        louvain_moves,
    )
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=3)
    res = louvain_moves(
        spark, g, _graph_cfg(), rounds=2, weight_col="weight",
        algo_name="louvain_coarse",
    )
    return contract_communities(
        g, res.state.select("vid", "comm"), weight_col="weight"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota deterministic stratified sampling
    (operators/sampling.py): exactly 10 docs per source, chosen as the
    10 smallest (md5(doc_id), doc_id) — the two-level bucket-count /
    boundary-rank shape that never sorts a whole stratum. n_buckets=16
    so the boundary-ranking path is exercised on the 25-doc strata.
    Oracle = the naive full-sort ROW_NUMBER() <= quota."""
    from crgp_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "source"),
        ["source"],
        10,
        "doc_id",
        n_buckets=16,
    )


def q_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched model inference over the event log: hashed
    features -> seed-derived fixed-point linear model inside
    mapInPandas (operators/inference.py). The stand-in for 'score every
    record with a quality classifier' with an exactly-reconstructable
    model."""
    from crgp_spark.operators.inference import batch_inference

    return batch_inference(
        _events(spark, sf_dir), ["event_type", "user_id"], id_col="event_id"
    )


def q_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges_vid(spark, sf_dir)
    res = label_propagation(spark, e, _graph_cfg(), fixed_iterations=2)
    return res.state.select("vid", "label")


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges_vid(spark, sf_dir)
    _total, per_vertex = triangles(spark, e)
    return per_vertex.select("vid", "triangles")


# -- cascade-local (conversation-partitioned CSR) variants under the
# hard gate: same oracles as the generic paths, so the headline
# architecture's kernels (operators/cascade.py, cascade_algos.py) get
# their own rows+schema+hash rows instead of pytest-only coverage.


def _edges_vid_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, conv_id) vid-encoded edges for the cascade layout
    (vids are unique per conversation by construction of the encoding)."""
    e = _edge_turns(spark, sf_dir)
    return e.select(
        (_uid("conv_id") * 100000 + F.col("src_turn")).alias("src"),
        (_uid("conv_id") * 100000 + F.col("dst_turn")).alias("dst"),
        "conv_id",
    )


def _cascade_cfg(name: str) -> EngineConfig:
    return EngineConfig(
        shuffle_partitions=8,
        graph_partitions=8,
        checkpoint_dir=f"/tmp/crgp_ckpt_entry_{name}",
        checkpoint_every=10_000,
        # tol < 0 never converges -> exactly max_iterations supersteps,
        # matching the unrolled SQL oracle's iteration count
        tol=-1.0,
        max_iterations=_PR_ITERS,
    )


def q_pagerank_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.cascade import pagerank_cascade

    e = _edges_vid_conv(spark, sf_dir)
    res = pagerank_cascade(spark, e, _cascade_cfg("prc"))
    return res.state.select(
        "vid", decimal_round(F.col("rank"), 6).alias("rank")
    )


def q_components_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.cascade_algos import cascade_components

    e = _edges_vid_conv(spark, sf_dir)
    return cascade_components(spark, e, _graph_cfg()).select(
        "vid", "component"
    )


def q_labelprop_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.cascade_algos import cascade_labelprop

    e = _edges_vid_conv(spark, sf_dir)
    return cascade_labelprop(
        spark, e, _graph_cfg(), fixed_iterations=2
    ).select("vid", "label")


def q_triangles_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.cascade_algos import cascade_triangles

    e = _edges_vid_conv(spark, sf_dir)
    _total, per_vertex = cascade_triangles(spark, e, _graph_cfg())
    return per_vertex.select("vid", "triangles")


def _bfs_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation originators (of conversations that produced at least
    one influence edge) as (conv_id, vid) — the natural BFS source set:
    'how far does influence travel from the openers?'."""
    e = _edge_turns(spark, sf_dir)
    return e.select(
        "conv_id",
        (_uid("conv_id") * 100000 + F.col("orig_turn")).alias("vid"),
    ).distinct()


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.bfs import bfs_hops

    e = _edges_vid(spark, sf_dir)
    srcs = _bfs_sources(spark, sf_dir).select("vid")
    return bfs_hops(spark, e, srcs, _graph_cfg(), max_iterations=100).select(
        "vid", "dist"
    )


def q_bfs_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.cascade_algos import cascade_bfs

    e = _edges_vid_conv(spark, sf_dir)
    srcs = _bfs_sources(spark, sf_dir)
    return cascade_bfs(spark, e, srcs, _graph_cfg()).select("vid", "dist")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.hits import hits

    e = _edges_vid(spark, sf_dir)
    res = hits(spark, e, _graph_cfg(), fixed_iterations=_HITS_ITERS)
    return res.select(
        "vid",
        decimal_round(F.col("hub"), 6).alias("hub"),
        decimal_round(F.col("auth"), 6).alias("auth"),
    )


def q_stream_histq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram-quantile sketch under the hard gate
    (streaming/windows.py::stream_hist_quantiles): bucket counts
    folded in the streaming state store across capped micro-batches;
    per-bucket SUM is a monoid, so the oracle is the SAME SQL as the
    batch `hist_quantiles` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_hist_quantiles

    work = "/tmp/crgp_stream_histq"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_hist_quantiles(
        spark, work, "event_type", "value",
        [10.0, 25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0],
        [0.25, 0.5, 0.9], max_files_per_trigger=2,
    )


def q_truss_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full truss decomposition under the pinned peel schedule
    (operators/ktruss.py::truss_decomposition, k = 3..5, 2 rounds per
    rung) — every undirected edge labeled with its trussness bucket;
    the oracle chains the _sql_ktruss rounds with per-phase
    thresholds."""
    from crgp_spark.operators.ktruss import truss_decomposition

    return truss_decomposition(
        spark, _edges_vid(spark, sf_dir), k_max=5, rounds_per_k=2,
        cfg=_graph_cfg(),
    )


def q_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg burst detection (operators/bursts.py; KDD 2002) over
    per-user event-gap sequences: exact integer 2-state min-cost DP
    (rational gap costs, the single ln 2 constant pinned) — the oracle
    replays the identical recursion via WITH RECURSIVE."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.bursts import burst_detect

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("uid"), ts_micros("ts").alias("us")
    ).select("uid", F.expr("CAST(us div 1000 AS BIGINT)").alias("t"))
    return burst_detect(ev)


def q_stream_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming reliability diagram under the hard gate
    (streaming/windows.py::stream_calibration): per-bucket (n, n_pos)
    SUM monoids in the streaming state store — same oracle as the
    batch `calibration` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_calibration

    work = "/tmp/crgp_stream_calib"
    shutil.rmtree(work, ignore_errors=True)
    _docs(spark, sf_dir).repartition(8, "doc_id").write.parquet(work)
    return stream_calibration(
        spark, work, "n_chars", "lang = 'en'", bucket_width=200,
        max_files_per_trigger=2,
    )


def q_temporal_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal PageRank (operators/temporalpr.py; Rozenshtein-Gionis
    2016): attenuated time-respecting path counts up to length 3 in
    scaled-BIGINT fixed point — mass cannot ride edge chains whose
    timestamps decrease, the causality constraint static PageRank
    ignores."""
    from crgp_spark.operators.temporalpr import temporal_pagerank

    e = _edge_turns(spark, sf_dir)
    evt = e.select(
        (_uid("conv_id") * 100000 + F.col("src_turn")).alias("src"),
        (_uid("conv_id") * 100000 + F.col("dst_turn")).alias("dst"),
        F.col("ts").cast("long").alias("t"),
    )
    return temporal_pagerank(
        spark, evt, max_len=3, damp_den=2, cfg=_graph_cfg()
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the MinHash-LSH candidate pairs
    against the EXACT Jaccard pairs at t=0.6 (operators/dedup.py) —
    the same measured-not-asserted contract as `ann_recall`, for the
    dedup family: integer pair counts, two IEEE divisions."""
    from crgp_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs

    docs = _docs(spark, sf_dir)
    exact = jaccard_pairs(docs, threshold=0.6).select("a", "b")
    cand = lsh_candidate_pairs(docs, n_hashes=4, band_size=2)
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    nh = exact.join(cand, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return (
        ne.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_cand",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.col("n_hit").cast("double")
                / F.col("n_exact").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
            F.when(
                F.col("n_cand") > 0,
                F.col("n_hit").cast("double")
                / F.col("n_cand").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("precision"),
        )
    )


def q_stream_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact ROC-AUC under the hard gate
    (streaming/windows.py::stream_roc_auc): per-score-group (cnt, pos)
    counts folded in the streaming state store across capped
    micro-batches — both SUM monoids, so the oracle is the SAME SQL
    as the batch `auc` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_roc_auc

    work = "/tmp/crgp_stream_auc"
    shutil.rmtree(work, ignore_errors=True)
    _docs(spark, sf_dir).repartition(8, "doc_id").write.parquet(work)
    return stream_roc_auc(
        spark, work, "n_chars", "lang = 'en'", max_files_per_trigger=2
    )


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact midrank Mann-Whitney ROC-AUC
    (operators/evalmetrics.py::roc_auc) of n_chars predicting
    lang='en' — doubled-rank BIGINTs throughout, one IEEE division."""
    from crgp_spark.operators.evalmetrics import roc_auc

    docs = _docs(spark, sf_dir)
    return roc_auc(docs, F.col("n_chars"), F.col("lang") == "en")


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (evalmetrics.py::calibration_curve):
    width-200 n_chars buckets vs the lang='en' rate — integer counts,
    one IEEE division per bucket."""
    from crgp_spark.operators.evalmetrics import calibration_curve

    docs = _docs(spark, sf_dir)
    return calibration_curve(
        docs, F.col("n_chars"), F.col("lang") == "en", bucket_width=200
    )


def q_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Andersen-Chung-Lang PPR sweep cut
    (operators/sweepcut.py::sweep_cut over
    pagerank.py::personalized_pagerank): conductance curve of the
    top-100 prefixes of the score/degree ordering — integer cut/vol,
    ordering key and conductance each ONE IEEE division of exact
    integers (conductance rounded with the boundary-safe idiom)."""
    from crgp_spark.operators.pagerank import personalized_pagerank
    from crgp_spark.operators.sweepcut import sweep_cut

    e = _edges_vid(spark, sf_dir)
    srcs = _bfs_sources(spark, sf_dir).select("vid")
    ranks = personalized_pagerank(
        spark, e, srcs, _graph_cfg(), fixed_iterations=_PR_ITERS
    )
    num = F.floor(
        decimal_round(F.col("rank"), 6) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    out = sweep_cut(spark, e, ranks.select("vid", num.alias("num")), 100)
    return out.select(
        "k", "vid", "vol", "cut",
        decimal_round(F.col("conductance"), 6).alias("conductance"),
    )


def q_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation analysis: the component-size distribution of
    the p=1/2 live-edge subgraph (operators/icsim.py::live_edges
    md5 coins composed with operators/components.py small-star/
    large-star) — the robustness curve question "how does the graph
    fragment under random edge failure?".  The oracle recomputes true
    components on the SAME deterministic subgraph via a bounded
    WITH RECURSIVE transitive closure (components stay conversation-
    local, so the closure is small)."""
    from crgp_spark.operators.components import connected_components
    from crgp_spark.operators.icsim import live_edges

    live = live_edges(_edges_vid(spark, sf_dir), 1, 2, seed="perc")
    comp = connected_components(spark, live, _graph_cfg())
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel changelog between two committed snapshot versions —
    Delta's ``table_changes`` shape, composed from
    sources/snapshot.py (VERSION AS OF reads) + operators/diff.py
    (fingerprinted keyed diff): v2 deletes every 5th customer,
    rewrites every 7th's segment, inserts every 11th re-keyed high;
    the oracle derives added/removed/changed analytically from the
    same modular rules."""
    import shutil

    from crgp_spark.operators.diff import table_diff
    from crgp_spark.sources.snapshot import SnapshotTable

    work = "/tmp/crgp_snapdiff_dim"
    shutil.rmtree(work, ignore_errors=True)
    cust = _tbl(spark, sf_dir, "customer")
    t = SnapshotTable(work)
    v1 = t.overwrite(cust)
    key = F.col("c_custkey")
    survivors = cust.where(key % 5 != 0)
    updated = survivors.withColumn(
        "c_mktsegment",
        F.when(key % 7 == 0, F.lit("MERGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    inserts = cust.where(key % 11 == 0).withColumn(
        "c_custkey", key + F.lit(1_000_000_000)
    )
    v2 = t.overwrite(updated.unionByName(inserts))
    return table_diff(
        t.read(spark, as_of=v1), t.read(spark, as_of=v2), ["c_custkey"]
    )


def q_ic_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic independent-cascade simulation
    (operators/icsim.py; Kempe-Kleinberg-Tardos 2003): md5-coin
    live-edge graph at p=3/10, top-20-out-degree seeds, 4 rounds —
    returns every activated vertex with its activation round."""
    from crgp_spark.operators.icsim import independent_cascade

    return independent_cascade(
        spark, _edges_vid(spark, sf_dir), p_num=3, p_den=10,
        n_seeds=20, rounds=4, cfg=_graph_cfg(),
    )


def q_eigencent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (operators/eigencent.py; Bonacich 1972):
    3 exact integer power-iteration rounds with per-round max-rescale
    — scaled BIGINTs compared exactly, one final IEEE division."""
    from crgp_spark.operators.eigencent import eigenvector_centrality

    return eigenvector_centrality(
        spark, _edges_vid(spark, sf_dir), _graph_cfg(), fixed_iterations=3
    )


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs/authorities (operators/salsa.py; Lempel–Moran 2000)
    on the derived influence edges — 2 exact BIGINT stochastic rounds
    (floor-division mass splits), scaled integers compared exactly and
    the two L1 doubles rounded with the boundary-safe idiom."""
    from crgp_spark.operators.salsa import salsa

    res = salsa(
        spark, _edges_vid(spark, sf_dir), _graph_cfg(), fixed_iterations=2
    )
    return res.select(
        "vid",
        "hub_scaled",
        "auth_scaled",
        decimal_round(F.col("hub"), 6).alias("hub"),
        decimal_round(F.col("auth"), 6).alias("auth"),
    )


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the derived influence edges — exact BIGINT
    fixed-point recurrence (operators/katz.py), one IEEE division for
    the normalized column, 6-dp boundary-safe rounding for the gate."""
    from crgp_spark.operators.katz import katz

    e = _edges_vid(spark, sf_dir)
    res = katz(spark, e, _graph_cfg(), fixed_iterations=_KATZ_ITERS)
    return res.select(
        "vid",
        "katz_scaled",
        decimal_round(F.col("katz"), 6).alias("katz"),
    )


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.pagerank import personalized_pagerank

    e = _edges_vid(spark, sf_dir)
    srcs = _bfs_sources(spark, sf_dir).select("vid")
    ranks = personalized_pagerank(
        spark, e, srcs, _graph_cfg(), fixed_iterations=_PR_ITERS
    )
    return ranks.select("vid", decimal_round(F.col("rank"), 6).alias("rank"))


def q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.graphstats import clustering_coefficient

    return clustering_coefficient(spark, _edges_vid(spark, sf_dir))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the participant-level influence graph
    (weight = turn-level edge multiplicity; pagerank_df weight_col)."""
    e = (
        _edge_turns(spark, sf_dir)
        .groupBy(
            F.col("src_participant").alias("src"),
            F.col("dst_participant").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank_df(
        spark, e, _graph_cfg(), fixed_iterations=_PR_ITERS, weight_col="w"
    )
    return ranks.select("vid", decimal_round(F.col("rank"), 6).alias("rank"))


def q_coparticipation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of conversation membership onto the
    weighted participant co-occurrence graph
    (operators/project.py::coparticipation)."""
    from crgp_spark.derive import prepare_turns
    from crgp_spark.operators.project import coparticipation

    t = prepare_turns(transcripts_from_events(_events(spark, sf_dir)))
    return coparticipation(t)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss after 2 pinned peel rounds (operators/ktruss.py; the
    oracle unrolls the same rounds via common-neighbor counts — the
    fixpoint mode is convergence-probed in tests/test_ktruss.py)."""
    from crgp_spark.operators.ktruss import ktruss

    return ktruss(
        spark, _edges_vid(spark, sf_dir), k=4, fixed_rounds=2, cfg=_graph_cfg()
    )


def q_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted links by common-neighbor / Jaccard /
    Adamic–Adar scores (operators/linkpred.py::top_predicted_links);
    ranking key integer-derived so cross-engine deterministic."""
    from crgp_spark.operators.linkpred import top_predicted_links

    return top_predicted_links(_edges_vid(spark, sf_dir), k=100, min_common=2)


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary incl. integer-moment assortativity
    (graphstats.py::graph_summary — float only in the last division)."""
    from crgp_spark.operators.graphstats import graph_summary

    return graph_summary(_edges_vid(spark, sf_dir))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core after 4 pinned peel rounds (operators/kcore.py; the
    oracle unrolls the same 4 rounds — the fixpoint mode is
    convergence-probed and covered by tests/test_kcore.py)."""
    from crgp_spark.operators.kcore import kcore

    return kcore(
        spark, _edges_vid(spark, sf_dir), k=3, fixed_rounds=4, cfg=_graph_cfg()
    )


def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.graphstats import degree_histogram

    return degree_histogram(_edges_vid(spark, sf_dir))


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (textstats.py::tfidf_topk)."""
    from crgp_spark.operators.textstats import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k_top=5)


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crgp_spark.operators.textstats import ngram_topk

    return ngram_topk(_docs(spark, sf_dir), n=2, k=50)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document
    (textstats.py::token_entropy) — the Gopher-style repetition/quality
    signal. Every per-term log is quantized to BIGINT micro-nats, so
    h_scaled is an exact integer in both engines and `entropy` is one
    IEEE division of identical integers: bit-identical, no rounding
    epsilon anywhere."""
    from crgp_spark.operators.textstats import token_entropy

    return token_entropy(_docs(spark, sf_dir))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_token_count(_docs(spark, sf_dir))


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_fingerprints(_docs(spark, sf_dir))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), n_hashes=4)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(_docs(spark, sf_dir), n_hashes=4, band_size=2)


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_docs(spark, sf_dir), threshold=0.6)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022): maximal
    token spans covered by 5-grams occurring >=2 times corpus-wide —
    one gram-hash groupBy + semi-join + per-doc interval merge
    (operators/dedup.py::duplicate_spans)."""
    from crgp_spark.operators.dedup import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), gram_len=5, min_count=2
    )


def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier summary (operators/robust.py): Hampel
    MAD rule over event value cents — medians of integers are exact
    0.5-multiples, shipped as 2x BIGINTs."""
    from crgp_spark.operators.robust import mad_summary

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return mad_summary(_events(spark, sf_dir), "event_type", cents, nsig=3.0)


def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ladder generalization
    (operators/privacy.py::generalize_until_k) over the customer
    quasi-identifiers (segment, nation, balance bucket): returns the
    FIRST ladder level whose equivalence classes all reach k=5, with
    the level pinned into the rows. The oracle computes all levels and
    selects with the same first-passing rule, so both engines make the
    identical data-dependent choice."""
    from crgp_spark.operators.privacy import generalize_until_k

    c = _tbl(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    zero = F.lit(0).cast("long")
    ladder = [
        {
            "seg": F.col("c_mktsegment"),
            "nat": F.col("c_nationkey").cast("long"),
            "bal": (cents - cents % 100000) / 100000,
        },
        {
            "seg": F.col("c_mktsegment"),
            "nat": F.col("c_nationkey").cast("long") - F.col(
                "c_nationkey"
            ).cast("long") % 5,
            "bal": (cents - cents % 1000000) / 1000000,
        },
        {"seg": F.col("c_mktsegment"), "nat": zero, "bal": zero},
    ]
    ladder = [
        {k2: (v.cast("long") if k2 != "seg" else v) for k2, v in lv.items()}
        for lv in ladder
    ]
    level, classes = generalize_until_k(c, ladder, k=5)
    return classes.select(
        F.lit(level).cast("int").alias("level"), "seg", "nat", "bal", "n"
    )


def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (operators/regress.py::grouped_trend):
    slope of event cents vs day index — exact BIGINT moments, the one
    float division identical across engines (same integer operands,
    one correctly-rounded IEEE op)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.regress import grouped_trend

    ev = _events(spark, sf_dir).select(
        "user_id",
        ts_micros(F.col("ts")).alias("_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).select(
        "user_id", F.expr("_us div 86400000000").alias("day"), "cents"
    )
    return grouped_trend(ev, "user_id", F.col("day"), F.col("cents"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY (operators/bpetrain.py::bpe_encode): the 5
    learned merge rules replayed over every document — one JVM-side
    F.aggregate fold over the vocabulary-sized distinct-word table,
    then a words→vocab join for per-doc BPE token counts. With
    bpe_train this closes the train→encode tokenizer loop."""
    from crgp_spark.operators.bpetrain import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    return bpe_encode(docs, bpe_train(docs, merges=5))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-rule training (operators/bpetrain.py::
    bpe_train): 5 most-frequent-pair merges learned from the document
    corpus — vocab-sized pair counting, top-1 winner, broadcast
    leftmost-non-overlapping rewrite per round."""
    from crgp_spark.operators.bpetrain import bpe_train

    return bpe_train(_docs(spark, sf_dir), merges=5)


def q_train_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch logistic training (operators/train.py::
    logistic_train): 3 exact integer gradient-descent rounds over
    hashed features of events (label = purchase) — score/residual/
    gradient/update as map-side-combinable aggregates; returns the
    16-row weight table."""
    from crgp_spark.operators.train import logistic_train

    ev = _events(spark, sf_dir).withColumn(
        "y", (F.col("event_type") == "purchase").cast("int")
    )
    return logistic_train(
        ev,
        ["event_type", "user_id"],
        "y",
        "event_id",
        dim=16,
        rounds=3,
        lr_num=1,
        lr_den=4,
        q=10_000,
        w_scale=1000,
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application, latest-wins (operators/diff.py::
    apply_changes): events replayed as a changelog over the customer
    snapshot — purchases delete the key, other events upsert a
    rebuilt payload; (ts, event_id) totally orders each key's
    changes. ONE window reduces the log to its frontier, then
    anti-join + union."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.diff import apply_changes

    base = _tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        "c_mktsegment",
    )
    ev = _events(spark, sf_dir)
    changes = ev.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "c_name"
        ),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        ts_micros(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
    )
    return apply_changes(
        base, changes, key_cols=["c_custkey"], order_cols=["v_us", "v_seq"]
    )


def q_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): the
    per-segment count+balance rollup maintained under the SAME
    changelog `cdc_apply` replays — delta retraction/insertion rows,
    one touched-key semi-join against base, an outer merge into the
    materialized view, zero-count groups dropped. The oracle is the
    full recompute over the applied snapshot; the engine never
    re-aggregates the facts."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.ivm import maintain_rollup, rollup_view

    base = _tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        "c_mktsegment",
    )
    ev = _events(spark, sf_dir)
    changes = ev.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "c_name"
        ),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        ts_micros(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
    )
    view = rollup_view(base, ["c_mktsegment"], "bal_cents")
    out = maintain_rollup(
        base,
        changes,
        key_cols=["c_custkey"],
        order_cols=["v_us", "v_seq"],
        group_cols=["c_mktsegment"],
        val_col="bal_cents",
        base_agg=view,
    )
    return out.select(
        "c_mktsegment", "n", F.col("total").alias("bal_cents")
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join (sources/bucketed.py): orders and
    customer written ONCE as catalog tables bucketed+sorted by custkey,
    then sort-merge-joined with ZERO Exchange on either side (the
    pay-once placement shuffle — THE fact-to-fact join strategy at
    100 TB); per-segment order count + exact cents total."""
    import shutil

    from crgp_spark.sources.bucketed import colocated_join, write_bucketed

    work = "/tmp/crgp_bucketed"
    shutil.rmtree(work, ignore_errors=True)
    write_bucketed(
        _tbl(spark, sf_dir, "orders"),
        "bkt_orders", f"{work}/orders", "o_custkey", n_buckets=8,
    )
    write_bucketed(
        _tbl(spark, sf_dir, "customer"),
        "bkt_customer", f"{work}/customer", "c_custkey", n_buckets=8,
    )
    j = colocated_join(
        spark, "bkt_orders", "bkt_customer", "o_custkey", "c_custkey"
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents).alias("total_cents"),
    )


def q_zone_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (sources/zonemaps.py): events re-clustered
    by range on event_id (the write that makes per-file min/max disjoint
    — what layout.py's clustering buys at 100 TB), per-file zone maps
    computed in ONE scan-speed pass, then a selective interval scan that
    opens ONLY the qualifying files — the manifest-level file skip every
    lakehouse format performs above parquet's row-group stats. Pruning
    is conservative and the residual filter stays exact, so the oracle
    is the plain interval filter; pytest proves fewer files are read."""
    import shutil

    from crgp_spark.sources.zonemaps import skipping_scan, zone_maps

    work = "/tmp/crgp_zonemaps"
    shutil.rmtree(work, ignore_errors=True)
    (
        _events(spark, sf_dir)
        .repartitionByRange(8, "event_id")
        .sortWithinPartitions("event_id")
        .write.parquet(work)
    )
    maps = zone_maps(spark, work, "event_id")
    scanned = skipping_scan(spark, work, "event_id", 2500, 4999, maps=maps)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return scanned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("value_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier of orders minimizing (order day, price)
    (operators/skyline.py::skyline2d): the earliest-and-cheapest
    non-dominated points. The engine runs the linear two-level
    prefix-min plan; the oracle runs the O(n²) NOT-EXISTS dominance
    self-join — same frontier, scale-opposite plans."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.skyline import skyline2d

    pts = _tbl(spark, sf_dir, "orders").select(
        ts_micros(F.col("o_orderdate")).alias("_us"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).select(F.expr("_us div 86400000000").alias("day"), "cents")
    return skyline2d(pts, "day", "cents", partitions=8)


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily regular-grid user balance series with forward fill
    (operators/timeseries.py::resample_ffill): last event value per
    (user, day) — deterministic last by (ts, event_id) — then the
    gaps between each user's first and last day filled with the
    previous observation (count-prefix fill groups, both engines)."""
    from crgp_spark.operators.timeseries import resample_ffill

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    out = resample_ffill(
        _events(spark, sf_dir), key="user_id", ts="ts", val=cents,
        seq="event_id",
    )
    return out.select(
        "user_id", F.col("bucket").alias("day"), F.col("val").alias("cents")
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup(
        _docs(spark, sf_dir), n_hashes=4, band_size=2, threshold=0.6
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: LSH pairs -> connected
    components -> min-doc_id representative + cluster size
    (dedup.py::neardup_clusters; oracle closes the pair graph with a
    recursive CTE)."""
    from crgp_spark.operators.dedup import neardup_clusters

    return neardup_clusters(
        spark,
        _docs(spark, sf_dir),
        n_hashes=4,
        band_size=2,
        threshold=0.6,
        cfg=_graph_cfg(),
    )


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partitioning-independent 10% hash sample
    (operators/sample.py — df.sample() is partitioning-dependent and
    unreproducible; this is the pipeline-grade replacement)."""
    from crgp_spark.operators.sample import hash_sample

    return hash_sample(_docs(spark, sf_dir), "doc_id", 10).select("doc_id")


def q_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic draw by hash order
    (operators/sample.py::stratified_sample)."""
    from crgp_spark.operators.sample import stratified_sample

    return stratified_sample(
        _events(spark, sf_dir), "event_type", "event_id", 50
    ).select("event_id", "event_type", "rk")


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal novelty per doc (curation.py::novelty_scores): the
    fraction of its distinct word 3-gram shingles first seen (min
    doc_id) in this doc — the keep-the-first curation signal. Exact
    BIGINT counts, one IEEE division."""
    from crgp_spark.operators.curation import novelty_scores

    return novelty_scores(_docs(spark, sf_dir))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (operators/sample.py::weighted_sample,
    Duffield-Lund-Thorup 2007): 40 docs per lang, weight-proportional
    by n_chars, with the DLT threshold estimator. Every priority is
    one IEEE division of exact integers (w·2^32)/(h+1) — bit-identical
    across engines, so rank, threshold and estimator all hash-match
    with no rounding epsilon."""
    from crgp_spark.operators.sample import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), "lang", "doc_id", "n_chars", 40
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py::decontaminate):
    flag training docs sharing a word 4-gram with a held-out benchmark
    set (the deterministic 10% hash sample doubling as the eval set)."""
    from crgp_spark.operators.curation import decontaminate
    from crgp_spark.operators.sample import hash_sample

    docs = _docs(spark, sf_dir)
    bench = hash_sample(docs, "doc_id", 10).select("doc_id")
    return decontaminate(docs, bench, n=4)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (operators/curation.py::repetition_stats)."""
    from crgp_spark.operators.curation import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate segment removal (CCNet/RefinedWeb
    line-dedup generalized; operators/curation.py::remove_boilerplate):
    4-token segments occurring in >=2 distinct documents are dropped
    from every document, survivors rejoined in original order."""
    from crgp_spark.operators.curation import remove_boilerplate

    return remove_boilerplate(_docs(spark, sf_dir), seg_words=4, min_docs=2)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched decode kernel runs for real (mapInPandas over
    the fake decoder standing in for PIL/libav); the oracle checks the
    SQL-expressible output columns (media_id, md5-derived format,
    payload byte length). The feature vector itself is kernel-only and
    covered by tests/test_multimodal.py."""
    media = attach_fake_payload(_docs(spark, sf_dir))
    return extract_features(media).select("media_id", "format", "n_bytes")


def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center diversity selection (operators/kcenter.py, Gonzalez
    1985): 8 greedy farthest-point exemplars over the embeddings,
    every point assigned to its nearest center with the EXACT int64
    quantized squared distance. Selection, ties and assignment are all
    integer decisions, so the oracle's unrolled 8 rounds replay the
    greedy choice bit-for-bit."""
    from crgp_spark.operators.kcenter import kcenter_assign

    return kcenter_assign(spark, _embs(spark, sf_dir), k=8)


def _sql_kcenter(k: int = 8) -> str:
    """Unrolled Gonzalez rounds: c0 = min id; round r = argmax of the
    running LEAST-folded best distance (tie: min vec_id); assignment
    by the same packed (d2·k + rank) integer key as the engine."""

    def dist(cte: str) -> str:
        return (
            "SELECT a.vec_id, CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d\n"
            f"    FROM qx a JOIN qx b ON b.i = a.i AND b.vec_id = (SELECT cid FROM {cte})\n"
            "    GROUP BY a.vec_id"
        )

    parts = [
        """qx AS MATERIALIZED (
  SELECT vec_id, t.i AS i,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qx
  FROM embeddings, RANGE(64) t(i)),
c0 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM embeddings),
d0 AS MATERIALIZED (
  SELECT vec_id, d AS best FROM ("""
        + dist("c0")
        + "))"
    ]
    for r in range(1, k):
        parts.append(
            f"""c{r} AS MATERIALIZED (
  SELECT vec_id AS cid FROM d{r - 1} ORDER BY best DESC, vec_id LIMIT 1),
d{r} AS MATERIALIZED (
  SELECT s.vec_id, LEAST(s.best, x.d) AS best
  FROM d{r - 1} s JOIN ({dist(f"c{r}")}) x ON x.vec_id = s.vec_id)"""
        )
    cent = " UNION ALL ".join(
        f"SELECT {r} AS rk, cid FROM c{r}" for r in range(k)
    )
    joined = ",\n".join(parts)
    return f"""WITH {joined},
cent AS MATERIALIZED ({cent}),
pair AS (
  SELECT a.vec_id, c.rk, c.cid,
         CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2
  FROM qx a CROSS JOIN cent c JOIN qx b ON b.i = a.i AND b.vec_id = c.cid
  GROUP BY a.vec_id, c.rk, c.cid),
best AS (SELECT vec_id, MIN(d2 * {k} + rk) AS mk FROM pair GROUP BY vec_id)
SELECT b.vec_id, CAST(b.mk % {k} AS INT) AS center_rank, c.cid AS center_id,
       CAST(b.mk // {k} AS BIGINT) AS d2
FROM best b JOIN cent c ON c.rk = b.mk % {k}"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return knn_bruteforce(embs, embs.filter(F.col("vec_id") < 16), k=5)


def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return knn_sq8(embs, embs.filter(F.col("vec_id") < 16), k=5)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    return knn_ivf(
        embs, embs.filter(F.col("vec_id") < 16), k=5, n_centroids=16, n_probe=4
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF(16 lists, 4 probes) index against exact
    brute force (similarity.py::ann_recall) — the quality gate every
    ANN rollout needs. n_hit is an exact intersection count; recall is
    one IEEE division; the oracle composes the `knn` and `knn_ivf`
    oracle SQL verbatim as CTEs, so the measurement is checked against
    the same ground truth the two gated entries already pin."""
    from crgp_spark.operators.similarity import ann_recall

    return ann_recall(
        q_knn(spark, sf_dir), q_knn_ivf(spark, sf_dir), k=5
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-checked since r2: hyperplane weights are md5-derived
    integers and the projection is exact int64, so the DuckDB twin
    recomputes the buckets bit-for-bit from MD5()."""
    embs = _embs(spark, sf_dir)
    return knn_lsh(
        embs, embs.filter(F.col("vec_id") < 16), dim=64, k=5, n_bits=6,
        n_tables=2,
    )


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py::knn_pq):
    4 subspaces x 16 codewords trained with one deterministic Lloyd
    step, corpus encoded to 4 codes/vector, queries scored via the
    broadcast lookup table — all BIGINT, oracle-exact."""
    from crgp_spark.operators.pq import knn_pq

    embs = _embs(spark, sf_dir)
    return knn_pq(
        embs, embs.filter(F.col("vec_id") < 16), k=5, m=4, n_codes=16
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs branch (prefilter_bits=None) — the oracle-exact
    reference result."""
    return embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.4, prefilter_bits=None
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION (bucketed) branch: pairs generated only within
    4-bit LSH buckets — the plan that survives 100 TB. Oracle-checked
    against the same buckets recomputed in SQL (VERDICT r1 asked for the
    scale branch to be driver-exercised; 8 bits at threshold 0.4 had
    zero colliding pairs on the synthetic vectors — a vacuous hash
    match, VERDICT r4 fix-it #1 — 4 bits at 0.35 returns real rows
    while keeping the bucketed shape)."""
    return embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.35, prefilter_bits=4, dim=64
    )


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(_events(spark, sf_dir), gap_minutes=30)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir), n_bits=16)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        _docs(spark, sf_dir), n_bits=16, n_bands=4, max_hamming=3
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_dedup(
        _docs(spark, sf_dir), n_bits=16, n_bands=4, max_hamming=3
    )


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# SimHash signature CTE chain shared by the simhash / simhash_pairs /
# simhash_dedup oracles (16-bit driver parameterization)
_SQL_SIMHASH_SIG = f"""{_SQL_SHINGLES},
hashed AS (SELECT doc_id, MD5(s) AS h FROM sh),
bits AS (
  SELECT doc_id, t.j AS j,
         CAST(FLOOR((INSTR('0123456789abcdef',
                           SUBSTRING(h, CAST(FLOOR(t.j / 4.0) AS INT) + 1, 1)) - 1)
              / POW(2, 3 - (t.j % 4))) AS INT) % 2 AS bit
  FROM hashed, RANGE(16) t(j)
),
votes AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS v FROM bits GROUP BY doc_id, j),
sig AS (
  SELECT doc_id,
         STRING_AGG(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
  FROM votes GROUP BY doc_id
)"""


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pricing_summary(_tbl(spark, sf_dir, "lineitem"))


def q_tpch_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = topk_unshipped_orders(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )
    return res.withColumn(
        "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")
    )


def q_tpch_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return region_revenue(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "region"),
    )


def q_tpch_lapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lapsed_customers(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


def q_tpch_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return small_quantity_revenue(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "part")
    )


def q_tpch_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return promo_revenue_share(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "part")
    )


def q_tpch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_orders_per_segment(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


def q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return revenue_rollup(_tbl(spark, sf_dir, "lineitem"))


def q_tpch_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_order_distribution(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


def q_tpch_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return returned_priority_counts(
        _tbl(spark, sf_dir, "orders"), _tbl(spark, sf_dir, "lineitem")
    )


def q_tpch_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sole_blame_suppliers(
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def q_tpch_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return part_supplier_counts(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
    )


def q_tpch_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return important_parts(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
    )


def q_tpch_corrmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cheapest_supplier_per_part(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "nation"),
    )


def q_tpch_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return revenue_forecast(_tbl(spark, sf_dir, "lineitem"))


def q_tpch_topsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog: scalar-max subquery over a revenue view
    (relational.py::top_revenue_suppliers)."""
    from crgp_spark.operators.relational import top_revenue_suppliers

    return top_revenue_suppliers(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "supplier")
    )


def q_tpch_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nation_trade_volume(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
    )


def q_tpch_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_share(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "part"),
    )


def q_tpch_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return returned_item_customers(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "nation"),
    )


def q_tpch_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return large_quantity_orders(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def q_tpch_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return disjunctive_brand_revenue(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "part")
    )


def q_seqpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence-packing manifest per source shard
    (operators/seqpack.py::sequence_pack, budget=256)."""
    from crgp_spark.operators.seqpack import sequence_pack

    return sequence_pack(_docs(spark, sf_dir), budget=256)


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby MIS, 4 rounds (operators/mis.py)."""
    from crgp_spark.operators.mis import maximal_independent_set

    return maximal_independent_set(
        spark, _edges_vid(spark, sf_dir), rounds=4, cfg=_graph_cfg()
    )


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Jones-Plassmann greedy coloring, 4 rounds
    (operators/coloring.py::greedy_coloring)."""
    from crgp_spark.operators.coloring import greedy_coloring

    return greedy_coloring(
        spark, _edges_vid(spark, sf_dir), rounds=4, cfg=_graph_cfg()
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT idiom: per-user event counts spread into one column per
    event type (Spark ``groupBy().pivot()`` compiles to a single
    conditional aggregate — map-side combinable, one shuffle on
    user_id; the oracle spells the same CASE counts)."""
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt idiom — the inverse of q_pivot: the wide per-user
    event-type count matrix melted back to long (user_id, event_type,
    n) rows via Spark's native ``DataFrame.unpivot`` (physical Expand —
    one generated row per value column, no shuffle beyond the pivot's
    own aggregate; zero-count cells kept so the melt is the exact
    inverse). Oracle spells the dense user×type grid with a VALUES
    cross join."""
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
        )
    )
    return wide.unpivot(
        ids=["user_id"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="n",
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping: event counts and exact value cents over all four
    (event_type × weekday) grouping combinations; NULL marker columns
    normalized to 'ALL' so both engines hash identically."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("CAST(unix_micros(cast(ts as timestamp)) div 86400000000 AS BIGINT) % 7").alias("wd"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        ev.cube("event_type", "wd")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("wd").cast("string"), F.lit("ALL")).alias("wd"),
            "n",
            "total_cents",
        )
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form ROLLUP/CUBE specialize: exactly
    three of the four (event_type × weekday) combinations, i.e. the two
    single-dimension marginals plus the joint cell but NOT the grand
    total — a set CUBE cannot express without a post-filter. GROUPING()
    indicators disambiguate set-produced NULLs from data NULLs; Catalyst
    plans one Expand + one partial-aggregated shuffle, same as cube."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr(
            "CAST(unix_micros(cast(ts as timestamp)) div 86400000000"
            " AS BIGINT) % 7"
        ).alias("wd"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        ev.groupingSets(
            [
                [F.col("event_type"), F.col("wd")],
                [F.col("event_type")],
                [F.col("wd")],
            ],
            F.col("event_type"),
            F.col("wd"),
        )
        .agg(
            (F.grouping("event_type") * 2 + F.grouping("wd"))
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("wd").cast("string"), F.lit("ALL")).alias("wd"),
            "gid",
            "n",
            "total_cents",
        )
    )


def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per event type and epoch day, the
    day's event count plus the trailing-7-day sum (RANGE BETWEEN 6
    PRECEDING) — partitioned by event_type, so no global single
    partition."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    from pyspark.sql import Window

    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_day")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type", "day", "n_day",
        F.sum("n_day").over(w).alias("n_7d"),
    )


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window corners not covered by the rank/lag/RANGE
    entries: NTILE(4), PERCENT_RANK, CUME_DIST and NTH_VALUE over the
    per-event-type (ts, event_id) order. The order key is unique, so
    RANGE and ROWS default frames coincide and both engines see the
    same ranks; percent_rank/cume_dist are single divisions of exact
    integers (IEEE-identical), pinned with decimal_round anyway."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("long").alias("ntile4"),
        decimal_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        decimal_round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("user_id", 3).over(w).alias("third_user"),
    )


def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention triangle
    (operators/cohort.py::cohort_retention)."""
    from crgp_spark.operators.cohort import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup->view->click->purchase funnel
    (operators/cohort.py::funnel_counts)."""
    from crgp_spark.operators.cohort import funnel_counts

    return funnel_counts(_events(spark, sf_dir))


def q_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase time-to-convert (cohort.py::stage_latency):
    first-touch gap per converted user, summarized with exact type-1
    order-statistic percentiles — every output an exact BIGINT."""
    from crgp_spark.operators.cohort import stage_latency

    return stage_latency(_events(spark, sf_dir), "signup", "purchase")


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed funnel (streaming/funnel.py): the SAME one-row funnel
    as `funnel`, drained from a per-user min-vector streaming
    aggregation — per-stage MIN is a commutative monoid, so no
    ordering contract is needed at all (the only gated path with that
    property). Shares the batch funnel oracle verbatim — the 14th
    gated stream==batch path."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.funnel import stream_funnel
    from crgp_spark.streaming.scd import write_time_chunks

    work = "/tmp/crgp_stream_funnel"
    feed = _events(spark, sf_dir).select(
        "user_id", "event_type", ts_micros("ts").alias("us"), "event_id"
    )
    write_time_chunks(feed, work, n_chunks=4)
    return stream_funnel(spark, work)


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fanout-3 neighbor sampling
    (operators/featprop.py::neighbor_sample)."""
    from crgp_spark.operators.featprop import neighbor_sample

    return neighbor_sample(_edges_vid(spark, sf_dir), fanout=3)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd k-means step over the embeddings table
    (operators/kmeans.py::kmeans_step, k=8, 1e-4-unit quantization)."""
    from crgp_spark.operators.kmeans import kmeans_step

    return kmeans_step(_embs(spark, sf_dir), k=8, scale=10_000)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: k-means-partitioned within-cluster
    integer-cosine pruning, keep-lowest-id
    (operators/semdedup.py::semantic_dedup, k=8, threshold 0.40)."""
    from crgp_spark.operators.semdedup import semantic_dedup

    return semantic_dedup(_embs(spark, sf_dir), k=8, threshold=0.40)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over events.user_id: top-20 by
    exact count with the sketch estimate and its deterministic
    over-estimate guarantee (operators/cms.py::heavy_hitters, 4x64)."""
    from crgp_spark.operators.cms import heavy_hitters

    return heavy_hitters(
        _events(spark, sf_dir), "user_id", k=20, depth=4, width=64
    )


def q_featprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop quantized neighbor-mean feature propagation
    (operators/featprop.py::neighborhood_mean)."""
    from crgp_spark.operators.featprop import neighborhood_mean

    return neighborhood_mean(
        spark, _edges_vid(spark, sf_dir), hops=2, cfg=_graph_cfg()
    )


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-capped eccentricity from the harmonic level counts: the
    greatest level (≤3) with a nonzero count, 0 for vertices whose
    only edges are self-loops-free but isolated within radius — the
    per-vertex "how far does this conversation reach" statistic."""
    from crgp_spark.operators.harmonic import harmonic_bounded

    h = harmonic_bounded(spark, _edges_vid(spark, sf_dir), radius=3,
                         cfg=_graph_cfg())
    ecc = (
        F.when(F.col("cnt_d3") > 0, F.lit(3))
        .when(F.col("cnt_d2") > 0, F.lit(2))
        .when(F.col("cnt_d1") > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    return h.select("vid", ecc.alias("ecc3"))


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-3 harmonic centrality, generic distributed level-set path
    (operators/harmonic.py::harmonic_bounded)."""
    from crgp_spark.operators.harmonic import harmonic_bounded

    return harmonic_bounded(
        spark, _edges_vid(spark, sf_dir), radius=3, cfg=_graph_cfg()
    )


def q_harmonic_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-3 harmonic centrality via the conversation-local kernel
    (operators/harmonic.py::cascade_harmonic) — same oracle as the
    generic path (the two implementations must agree exactly)."""
    from crgp_spark.operators.harmonic import cascade_harmonic

    return cascade_harmonic(
        spark, _edges_vid_conv(spark, sf_dir), radius=3, cfg=_graph_cfg()
    )


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-3 Wasserman–Faust closeness from the exact integer BFS
    level counts (operators/harmonic.py::closeness_bounded) — the
    reachable-fraction-corrected companion to ``harmonic``; score is
    one IEEE division of two BIGINTs, so bit-equal cross-engine."""
    from crgp_spark.operators.harmonic import closeness_bounded

    return closeness_bounded(
        spark, _edges_vid(spark, sf_dir), radius=3, cfg=_graph_cfg()
    )


def q_closeness_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserman–Faust closeness via the conversation-local kernel
    (operators/harmonic.py::closeness_cascade) — same oracle as the
    generic path (the two implementations must agree exactly)."""
    from crgp_spark.operators.harmonic import closeness_cascade

    return closeness_cascade(
        spark, _edges_vid_conv(spark, sf_dir), radius=3, cfg=_graph_cfg()
    )


def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-participant butterfly (2×2-biclique) counts over the
    conversation–participant membership graph
    (operators/butterfly.py::butterfly_counts; Sanei-Mehri et al. KDD
    2018) — the bipartite motif companion to ``triangles`` and
    ``coparticipation``. All-BIGINT, no floats."""
    from crgp_spark.derive import prepare_turns
    from crgp_spark.operators.butterfly import butterfly_counts

    t = prepare_turns(transcripts_from_events(_events(spark, sf_dir)))
    return butterfly_counts(t, side="participant")


def q_butterflies_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-side butterfly counts (the OTHER pairing side of
    operators/butterfly.py::butterfly_counts) — global Σ butterflies
    must equal the participant side's; the per-round gate checks both
    sides against independent SQL twins."""
    from crgp_spark.derive import prepare_turns
    from crgp_spark.operators.butterfly import butterfly_counts

    t = prepare_turns(transcripts_from_events(_events(spark, sf_dir)))
    return butterfly_counts(t, side="conv")


def q_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard set-similarity self-join at t = 9/10
    (operators/dedup.py::setsim_join, AllPairs prefix filtering) — the
    exact counterpart of the MinHash/LSH approximate family."""
    from crgp_spark.operators.dedup import setsim_join

    return setsim_join(_docs(spark, sf_dir), threshold=(9, 10))


def q_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilevel coarsening step (matching.py::contract_matching):
    contract the 4-round maximal matching into supernodes; parallel
    edges collapse to integer weights."""
    from crgp_spark.operators.matching import (
        contract_matching,
        maximal_matching,
    )

    e = _edges_vid(spark, sf_dir)
    m = maximal_matching(spark, e, rounds=4, cfg=_graph_cfg())
    return contract_matching(spark, e, m)


def q_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunk manifest (seqpack.py::chunk_documents): 32-token
    windows, 8-token overlap."""
    from crgp_spark.operators.seqpack import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by exact lift
    (textstats.py::collocations, min support 5)."""
    from crgp_spark.operators.textstats import collocations

    return collocations(_docs(spark, sf_dir), min_count=5, k_top=20)


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over the event stream
    (operators/transitions.py::transition_counts)."""
    from crgp_spark.operators.transitions import transition_counts

    return transition_counts(_events(spark, sf_dir))


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token corpus mixing rates per source
    (operators/transitions.py::mixture_manifest)."""
    from crgp_spark.operators.transitions import mixture_manifest

    return mixture_manifest(_docs(spark, sf_dir))


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (operators/layout.py::zorder_layout):
    Morton interleave of (user_id, epoch day) per event — the kernel of
    a lakehouse OPTIMIZE ZORDER rewrite, at scan speed."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.layout import zorder_layout

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").cast("long").alias("a"),
        (ts_micros("ts") - (ts_micros("ts") % 86_400_000_000)).alias("_d0"),
    ).select(
        "event_id", "a",
        (F.col("_d0") / 86_400_000_000).cast("long").alias("b"),
    )
    return zorder_layout(ev, "a", "b", "event_id", bucket_bits=8)


def q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy self-join over conversation handles
    (operators/fuzzy.py::fuzzy_pairs_ed1): FastSS deletion-neighborhood
    blocking + exact levenshtein verify — the entity-resolution
    primitive."""
    from crgp_spark.operators.fuzzy import fuzzy_pairs_ed1

    handles = _events(spark, sf_dir).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s")
    ).distinct()
    return fuzzy_pairs_ed1(handles)


def q_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (operators/snm.py::snm_pairs):
    prefix-key blocking with a two-level distributed global ranking —
    the classic entity-resolution sliding window (Hernandez-Stolfo)
    next to LSH and deletion-neighborhood blocking."""
    from crgp_spark.operators.snm import snm_pairs

    return snm_pairs(
        _docs(spark, sf_dir), key_len=16, block_len=4, window=6, max_dist=5
    )


def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani et al. densest-subgraph peel curve (operators/
    densest.py::densest_curve, ε=1, 16 rounds): exact per-round
    (n_verts, n_edges) — max ratio is the 4-approx max density."""
    from crgp_spark.operators.densest import densest_curve

    return densest_curve(
        spark, _edges_vid(spark, sf_dir), rounds=16, cfg=_graph_cfg()
    )


def q_densest_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex set of the densest round (operators/densest.py::
    densest_vertices): density ties broken by earliest round, the
    selection reproduced by the oracle's ORDER BY."""
    from crgp_spark.operators.densest import densest_vertices

    return densest_vertices(
        spark, _edges_vid(spark, sf_dir), rounds=16, cfg=_graph_cfg()
    )


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL under the hard gate (streaming/windows.py::
    stream_hll_distinct): registers folded in the streaming state
    store across capped micro-batches; per-register MAX is a monoid,
    so the oracle is the SAME SQL as the batch `hll` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_hll_distinct

    work = "/tmp/crgp_stream_hll"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_hll_distinct(
        spark, work, "event_type", "user_id", p=6, max_files_per_trigger=2
    )


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1..3 autocorrelation of event cents
    (operators/regress.py::grouped_acf): exact BIGINT cross-multiplied
    moments, one IEEE division — the grouped_trend contract at lags."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.regress import grouped_acf

    ev = _events(spark, sf_dir).select(
        "user_id",
        ts_micros(F.col("ts")).alias("_us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return grouped_acf(
        ev, "user_id", [F.col("_us"), F.col("event_id")], F.col("cents"),
        lags=3,
    )


def q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type (operators/hll.py::
    hll_distinct, p=6 → 64 registers): deterministic md5 registers so
    the sketch AND its α-estimate are oracle-exact; corrected estimate
    stays driver-side (ln is not cross-engine bit-stable)."""
    from crgp_spark.operators.hll import hll_distinct

    return hll_distinct(_events(spark, sf_dir), "event_type", "user_id", p=6)


def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood-function curve (operators/anf.py::anf):
    FM bitmask propagation, 3 hops × 4 registers — the HyperANF shape;
    pure-integer observable so the oracle comparison is exact."""
    from crgp_spark.operators.anf import anf

    return anf(spark, _edges_vid(spark, sf_dir), hops=3, cfg=_graph_cfg())


def q_anf_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex FM observable at hop 3 (operators/anf.py::
    anf_vertices) — log2-scale reachable-ball size per vertex, the
    hub/anomaly-detection feed."""
    from crgp_spark.operators.anf import anf_vertices

    return anf_vertices(
        spark, _edges_vid(spark, sf_dir), hops=3, cfg=_graph_cfg()
    )


def q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (operators/sketch.py::kmv_distinct, k=32):
    approximate distinct users per event type, deterministic md5
    hashing so the estimate itself is oracle-exact."""
    from crgp_spark.operators.sketch import kmv_distinct

    return kmv_distinct(_events(spark, sf_dir), "event_type", "user_id", k=32)


def q_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ROLLUP (sketch.py::kmv_sketch/kmv_merge/kmv_estimate):
    sketch two disjoint halves of the events table independently
    (even/odd event_id — the per-day / per-tenant partial-sketch
    pattern a warehouse persists), merge the sketch tables, then
    estimate.  Because merge is an exact monoid
    (merge(sketch(X), sketch(Y)) == sketch(X ∪ Y)), the oracle is the
    same direct-estimate SQL as `kmv`."""
    from crgp_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    ev = _events(spark, sf_dir)
    even = ev.filter(F.col("event_id") % 2 == 0)
    odd = ev.filter(F.col("event_id") % 2 == 1)
    merged = kmv_merge(
        kmv_sketch(even, "event_type", "user_id", k=32),
        kmv_sketch(odd, "event_type", "user_id", k=32),
        k=32,
    )
    return kmv_estimate(merged, k=32)


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join (operators/bloomjoin.py): lineitem rows
    whose order is URGENT and above the median-ish price, pre-filtered
    map-side by a broadcast 2^17-bit filter before the exact semi-join,
    then a small per-flag rollup.  The filter is lossy; the composed
    operator is exact — the oracle is the plain semi-join."""
    from crgp_spark.operators.bloomjoin import bloom_semi_join

    lineitem = _tbl(spark, sf_dir, "lineitem")
    urgent = _tbl(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    )
    hits = bloom_semi_join(lineitem, urgent, "l_orderkey", "o_orderkey")
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py::scd2_history):
    version each sampled user's event_type over time, collapsing
    consecutive duplicates; intervals in integer micros, event_id
    breaking timestamp ties deterministically."""
    from crgp_spark.operators.scd import scd2_history

    updates = _events(spark, sf_dir).where(F.col("user_id") % 10 == 0)
    return scd2_history(
        updates, "user_id", "ts", ["event_type"], order_cols=["event_id"]
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (operators/profile.py::profile_table)
    over the events log's integral/string columns (float/timestamp
    stringification is engine-specific, so the cross-engine entry
    profiles the safely-comparable ones)."""
    from crgp_spark.operators.profile import profile_table

    return profile_table(
        _events(spark, sf_dir), ["event_id", "user_id", "event_type"]
    )


def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality gates (profile.py::check_constraints), one
    scan for all checks; NULL predicate == violation (Deequ
    semantics)."""
    from crgp_spark.operators.profile import check_constraints

    return check_constraints(
        _tbl(spark, sf_dir, "orders"),
        [
            ("orderkey_not_null", "o_orderkey IS NOT NULL"),
            ("total_positive", "o_totalprice > 0"),
            (
                "priority_in_domain",
                "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',"
                "'4-NOT SPECIFIED','5-LOW')",
            ),
            ("status_in_domain", "o_orderstatus IN ('O','F','P')"),
        ],
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution
    (operators/attribution.py::attribute_conversions): every purchase
    credited to the click/view touches in its trailing 7-day window;
    zero-padded micros:event_id string = the deterministic
    argmin/argmax key in both engines."""
    from crgp_spark.operators.attribution import attribute_conversions

    return attribute_conversions(_events(spark, sf_dir))


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch
    (operators/histogram.py::hist_grouped_quantiles): per-event-type
    value quantiles off a fixed-boundary bucket histogram — the
    deterministic, rollup-able alternative to a global per-group sort;
    exercised through the MERGE path (two disjoint halves sketched
    independently, added, then read) so the monoid itself is under the
    gate."""
    from crgp_spark.operators.histogram import (
        hist_merge,
        hist_quantiles,
        hist_sketch,
    )

    bs = [10.0, 25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0]
    ev = _events(spark, sf_dir)
    even = ev.where(F.col("event_id") % 2 == 0)
    odd = ev.where(F.col("event_id") % 2 == 1)
    merged = hist_merge(
        hist_sketch(even, "event_type", "value", bs),
        hist_sketch(odd, "event_type", "value", bs),
    )
    return hist_quantiles(merged, bs, [0.25, 0.5, 0.9])


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed SCD Type-2 maintenance (streaming/scd.py): the same
    sampled-user dimension as `scd2`, but maintained on the keyed
    state store across 4 time-ordered micro-batches — the open version
    of every user lives in state between epochs.  Stream == batch is
    the gate: this entry shares the batch scd2 oracle verbatim."""
    import shutil

    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.scd import (
        final_history,
        stream_scd2,
        write_time_chunks,
    )

    work = "/tmp/crgp_stream_scd2"
    shutil.rmtree(work, ignore_errors=True)
    feed = (
        _events(spark, sf_dir)
        .where(F.col("user_id") % 10 == 0)
        .select(
            "user_id", "event_type", "event_id", ts_micros("ts").alias("us")
        )
    )
    write_time_chunks(feed, work, n_chunks=4)
    return final_history(stream_scd2(spark, work))


def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/streaks.py::longest_streaks): each
    user's longest run of consecutive active days via the
    rank-difference trick — one exchange total; longer-then-earlier
    tiebreak through a zero-padded composite min_by key."""
    from crgp_spark.operators.streaks import longest_streaks

    return longest_streaks(_events(spark, sf_dir))


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted skew join (operators/skewjoin.py::salted_join):
    orders joined to customers over (key, salt) sub-keys — the
    planner-independent hot-key spread; result proven identical to the
    plain join by the oracle (market-segment order rollup, money in
    integer cents)."""
    from crgp_spark.operators.skewjoin import salted_join

    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    j = salted_join(orders, cust, "o_custkey", n_salts=8)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience overlap (sketch.py::kmv_intersect):
    per event type, estimated users present in BOTH halves of the log
    (even vs odd event_id) — |common hashes below theta| / theta with
    theta the smaller k-th hash; exact (theta NULL) while both sides
    hold < k hashes, which the sf0.001 gate exercises (15 users) while
    sf0.01 exercises the estimator path."""
    from crgp_spark.operators.sketch import kmv_intersect, kmv_sketch

    ev = _events(spark, sf_dir)
    even = ev.where(F.col("event_id") % 2 == 0)
    odd = ev.where(F.col("event_id") % 2 == 1)
    return kmv_intersect(
        kmv_sketch(even, "event_type", "user_id", 32),
        kmv_sketch(odd, "event_type", "user_id", 32),
        32,
    )


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (encode.py::target_encode_loo):
    per-user mean event value excluding the row itself — integer-cents
    sums, one partition window, leakage-free by construction."""
    from crgp_spark.operators.encode import target_encode_loo

    return target_encode_loo(
        _events(spark, sf_dir), "user_id", "value"
    ).select("event_id", "user_id", "te")


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing trick (encode.py::feature_hash): (event_type,
    user_id) features into 64 dims with ±1 signs, md5-deterministic in
    both engines."""
    from crgp_spark.operators.encode import feature_hash

    return feature_hash(
        _events(spark, sf_dir), ["event_type", "user_id"], dim=64
    ).select("event_id", "fh_idx", "fh_sign")


def q_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (operators/survivor.py::golden_records):
    canonical per-user record from the event log — recency rule
    (latest event_type by padded micros:id key) + frequency rule
    (modal event_type, smallest-value tiebreak) + record counts and
    span."""
    from crgp_spark.operators.survivor import golden_records

    return golden_records(
        _events(spark, sf_dir),
        "user_id",
        "ts",
        ["event_id"],
        latest_cols=["event_type"],
        mode_cols=["event_type"],
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/diff.py::table_diff): orders vs a
    synthetically-evolved snapshot (every 13th key deleted, every
    11th's status rewritten, every 17th re-keyed high as an insert) —
    scan-side md5 fingerprints, one full-outer join, unchanged keys
    dropped.  The oracle derives the statuses analytically from the
    same modular rules."""
    from crgp_spark.operators.diff import table_diff

    orders = _tbl(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    surviving = orders.where(key % 13 != 0).withColumn(
        "o_orderstatus",
        F.when(key % 11 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    added = orders.where(key % 17 == 0).withColumn(
        "o_orderkey", key + F.lit(1_000_000_000)
    )
    new = surviving.unionByName(added)
    return table_diff(orders, new, ["o_orderkey"])


_SQL_ANOMALY = """
WITH b AS (
  SELECT event_id, user_id, EPOCH_US(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
w AS (
  SELECT event_id, user_id, us, cents,
         CAST(COUNT(*) OVER fr AS BIGINT) AS n_window,
         CAST(SUM(cents) OVER fr AS BIGINT) AS s,
         CAST(SUM(cents * cents) OVER fr AS BIGINT) AS ss
  FROM b
  WINDOW fr AS (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, us, cents, n_window
FROM w
WHERE n_window >= 8
  AND (cents * n_window - s) * (cents * n_window - s)
      > 4 * (n_window * ss - s * s)"""


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed trailing-window z-score watch (streaming/anomaly.py):
    the SAME flags as `anomaly`, but produced by a buffer-pruned keyed
    state (the live 7-day window per user, bounded by
    events-per-key-per-window) across 4 time-ordered micro-batches —
    the third state shape in the streaming family after the scalar
    carry (cusum) and the full multiset (seqmatch). Stream == batch is
    the gate: this entry shares the batch anomaly oracle verbatim."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.anomaly import stream_anomalies
    from crgp_spark.streaming.scd import write_time_chunks

    work = "/tmp/crgp_stream_anomaly"
    feed = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"),
        ts_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    write_time_chunks(feed, work, n_chunks=4)
    got = stream_anomalies(spark, work)
    return got.select(
        "event_id", F.col("key").alias("user_id"), "us", "cents", "n_window"
    )


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomalies (operators/anomaly.py): events more
    than 2 sigma from their user's trailing-7d mean — the comparison
    cross-multiplied into pure BIGINT ((x·n−s)² > z²(n·ss−s²)) so both
    engines agree bit-for-bit."""
    from crgp_spark.operators.anomaly import rolling_anomalies

    return rolling_anomalies(_events(spark, sf_dir))


def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning (operators/compaction.py::compaction_plan):
    documents as pseudo-files (size = n_chars) binned per-lang into
    4000-byte rewrite groups — largest-first chain packing, integer
    div, one metadata window."""
    from crgp_spark.operators.compaction import compaction_plan

    return compaction_plan(
        _docs(spark, sf_dir), "doc_id", "n_chars", 4000, "lang"
    )


def q_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous sharding (operators/shard.py::rendezvous_assign):
    every document's highest-random-weight shard of 8 — the
    minimal-movement partitioner; argmax over md5 weights is
    reproduced with the padded-key ARG_MAX idiom in SQL."""
    from crgp_spark.operators.shard import rendezvous_assign

    return rendezvous_assign(_docs(spark, sf_dir), "doc_id", 8).select(
        "doc_id", "shard"
    )


def q_rank_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank normalization (encode.py::rank_normalize):
    each event's value mapped to [0,1] within its event type — RANK
    tie semantics, explicit NULLS LAST (Spark defaults nulls-first,
    DuckDB nulls-last)."""
    from crgp_spark.operators.encode import rank_normalize

    return rank_normalize(
        _events(spark, sf_dir), "event_type", "value"
    ).select("event_id", "event_type", "pr")


def q_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative adoption curve (cohort.py::adoption_curve): users
    first seen per epoch day + running total; the running window is
    day-grain (metadata-sized)."""
    from crgp_spark.operators.cohort import adoption_curve

    return adoption_curve(_events(spark, sf_dir))


def q_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated dimension join (operators/temporal.py::
    scd2_join): each sampled user's purchases joined to the
    event_type version ACTIVE at purchase time (half-open intervals,
    left join keeps pre-history facts visible) — the consumer side of
    the scd2 entry."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.scd import scd2_history
    from crgp_spark.operators.temporal import scd2_join

    ev = _events(spark, sf_dir).where(F.col("user_id") % 10 == 0)
    dim = scd2_history(
        ev, "user_id", "ts", ["event_type"], order_cols=["event_id"]
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_micros("ts").alias("us")
    )
    return scd2_join(facts, dim, "user_id", "us").select(
        "event_id", "user_id", "us", "dim_event_type"
    )


def q_join_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key discovery (operators/discovery.py): sketch 4 key
    columns across 3 warehouse tables, rank all pairs by estimated
    containment — the FK→PK pairs surface with containment ≈ 1; both
    the exact (below-k) and estimator paths execute at the gate
    scales."""
    from crgp_spark.operators.discovery import (
        column_sketches,
        join_candidates,
    )

    sk = column_sketches(
        {
            "customer.c_custkey": (_tbl(spark, sf_dir, "customer"), "c_custkey"),
            "orders.o_custkey": (_tbl(spark, sf_dir, "orders"), "o_custkey"),
            "orders.o_orderkey": (_tbl(spark, sf_dir, "orders"), "o_orderkey"),
            "lineitem.l_orderkey": (
                _tbl(spark, sf_dir, "lineitem"),
                "l_orderkey",
            ),
        },
        k=128,
    )
    return join_candidates(sk, k=128)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/index.py::inverted_index):
    per-token doc/occurrence counts + the capped head of each posting
    list (lowest doc:pos, padded-key order) over the documents
    table."""
    from crgp_spark.operators.index import inverted_index

    return inverted_index(_docs(spark, sf_dir), max_postings=16)


def q_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (index.py::keyword_search): top-20
    documents containing ALL of join/scan/merge, ranked by total term
    frequency (integer scores; the (score desc, doc_id) total order
    makes the LIMIT deterministic in both engines)."""
    from crgp_spark.operators.index import keyword_search

    return keyword_search(
        _docs(spark, sf_dir), ["join", "scan", "merge"], top_k=20
    )


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size (experiment.py::cramers_v) for the
    event_type × arm contingency — the bounded companion to chi2,
    computed from the same 8dp-quantized fold."""
    from crgp_spark.operators.experiment import cramers_v

    return cramers_v(_events(spark, sf_dir))


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion odds ratio with Woolf CI (experiment.py::
    odds_ratio): exact 2×2 BIGINT cells, pinned ln/exp pair at 6dp."""
    from crgp_spark.operators.experiment import odds_ratio

    return odds_ratio(_events(spark, sf_dir))


def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded confusion report (evalmetrics.py::
    confusion_report): n_chars >= 1000 predicting lang='en' — exact
    BIGINT cells, pinned precision/recall/F1/MCC at 6dp; the
    operating-point companion to the auc entry."""
    from crgp_spark.operators.evalmetrics import confusion_report

    return confusion_report(
        _docs(spark, sf_dir), "n_chars", F.col("lang") == "en", 1000
    )


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-safe k-fold audit (sample.py::
    kfold_assign): fold = md5_u32(user) % 5, per-fold row/key/label
    balance — the leakage-safe split every training pipeline needs."""
    from crgp_spark.operators.sample import kfold_assign

    return kfold_assign(
        _events(spark, sf_dir),
        "user_id",
        k=5,
        label_expr=(F.col("event_type") == "purchase").cast("int"),
    )


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (regress.py::kendall_tau) between daily value
    cents and daily event counts: concordant/discordant/tie BIGINTs
    from one grid pair fold, one pinned sqrt/division."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.regress import kendall_tau

    daily = (
        _events(spark, sf_dir)
        .select(
            ts_micros("ts").alias("_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .selectExpr("_us div 86400000000 AS t", "c")
        .groupBy("t")
        .agg(F.sum("c").alias("x"), F.count(F.lit(1)).alias("y"))
    )
    return kendall_tau(daily)


def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit (textstats.py::heaps_fit): log-log OLS of
    per-doc (tokens, distinct) on the quantized-ln contract — the
    vocabulary-growth exponent as a corpus-quality readout."""
    from crgp_spark.operators.textstats import heaps_fit

    return heaps_fit(_docs(spark, sf_dir))


def q_stream_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Benford audit under the hard gate
    (streaming/windows.py::stream_benford): nine digit counts as SUM-
    monoid streaming state, folded by the shared batch tail — oracle
    is the SAME SQL as the batch `benford` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_benford

    work = "/tmp/crgp_stream_benford"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "event_id").write.parquet(work)
    return stream_benford(spark, work, max_files_per_trigger=2)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (dedup.py::hard_negatives):
    single-hash LSH bands for mid-similarity recall, exact integer
    Jaccard band [0.01, 0.5), per-anchor top-5 by the deterministic
    (sim desc, neg) order. The synthetic corpus is bimodal — planted
    near-dups at sim ≈ 0.99, everything else at ≈ 0.01–0.1 — so the
    default [0.1, 0.6) band was vacuously empty (VERDICT r4 fix-it
    #1); the hard-negative band for THIS corpus sits just above the
    background mode."""
    from crgp_spark.operators.dedup import hard_negatives

    return hard_negatives(
        _docs(spark, sf_dir), n_hashes=4, band_size=1, per_anchor=5,
        lo=(1, 100), hi=(1, 2),
    )


def q_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best depth-1 Gini split (operators/stump.py::stump_train) of
    'is it a purchase' over three integer features (cent bucket, hour
    of day, user mod 10): BIGINT purity moments, one IEEE division
    per candidate, pinned (score desc, feature, threshold) argmax."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.stump import stump_train

    feats = (
        _events(spark, sf_dir)
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
            ts_micros("ts").alias("_us"),
            "user_id",
            "event_type",
        )
        .selectExpr(
            "c div 200 AS f_bucket",
            "(_us div 3600000000) % 24 AS f_hour",
            "user_id % 10 AS f_user",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
        )
    )
    return stump_train(feats, ["f_bucket", "f_hour", "f_user"], "y")


def q_prop_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (experiment.py::prop_test) on per-user
    purchase conversion between the arms: exact BIGINT counts, pinned
    float z on the 1-row combine."""
    from crgp_spark.operators.experiment import prop_test

    return prop_test(_events(spark, sf_dir))


def q_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component bipartiteness (operators/components.py::
    bipartite_check): exact components + undirected BFS parity + one
    conflict-edge join; odd_edges counts how far from 2-colorable.
    Oracle roots at the per-conversation minimum — the identity the
    hash-green components oracle certifies for this input."""
    from crgp_spark.operators.components import bipartite_check

    return bipartite_check(
        spark, _edges_vid(spark, sf_dir), _graph_cfg(), max_iterations=100
    )


def q_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE (graphstats.py::powerlaw_alpha) of the
    influence graph's degree tail (deg >= 2): quantized-ln BIGINT
    denominator, one pinned float expression."""
    from crgp_spark.operators.graphstats import powerlaw_alpha

    return powerlaw_alpha(_edges_vid(spark, sf_dir), d_min=2)


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve (operators/survival.py::
    kaplan_meier): per-user activity span as duration, censored when
    still active within 2 days of the window end; integer-exact on
    the quantized-log scale (exp left to the caller)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.survival import kaplan_meier

    days = (
        _events(spark, sf_dir)
        .select(
            F.col("user_id").alias("u"), ts_micros("ts").alias("_us")
        )
        .selectExpr("u", "_us div 86400000000 AS day")
    )
    pu = days.groupBy("u").agg(
        F.min("day").alias("fd"), F.max("day").alias("ld")
    )
    gm = pu.agg(F.max("ld").alias("gmax"))
    subj = pu.join(F.broadcast(gm)).select(
        (F.col("ld") - F.col("fd") + 1).cast("long").alias("dur"),
        F.when(F.col("ld") >= F.col("gmax") - 2, 0)
        .otherwise(1)
        .cast("int")
        .alias("ev"),
    )
    return kaplan_meier(subj)


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index (infotheory.py::psi) of the value-
    cent bucket (500-cent bins) distribution, pre vs post Jan-4:
    all-integer lnq folds, +1 smoothing, two pinned divisions."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.infotheory import psi

    b = (
        _events(spark, sf_dir)
        .select(
            ts_micros("ts").alias("_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .selectExpr("_us div 86400000000 AS day", "c div 500 AS bucket")
    )
    return psi(
        b.filter(F.col("day") < 19726),
        b.filter(F.col("day") >= 19726),
    )


def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (experiment.py::did_estimate) at the
    Jan-4 split: four exact cent-sum cells, five pinned divisions."""
    from crgp_spark.operators.experiment import did_estimate

    return did_estimate(_events(spark, sf_dir), split_day=19726)


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + NMI (operators/infotheory.py::
    mutual_information) between event_type and experiment arm:
    quantized-ln BIGINT folds, two pinned float expressions — the
    effect-size companion to the chi2 entry."""
    from crgp_spark.operators.infotheory import mutual_information

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
    )
    return mutual_information(ev, "event_type", "arm")


def q_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (infotheory.py::js_divergence)
    between the en and non-en corpora's unigram distributions:
    all-integer lnq arguments via the 2aB/(aB+bA) identity, three
    pinned float ops."""
    from crgp_spark.operators.infotheory import js_divergence

    return js_divergence(_docs(spark, sf_dir), F.col("lang") == "en")


def q_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules (operators/assoc.py::
    association_rules) over user event-type baskets: BIGINT
    support/item counts from a basket-local self-join, pinned float
    ratios at 6dp."""
    from crgp_spark.operators.assoc import association_rules

    return association_rules(_events(spark, sf_dir))


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (operators/regress.py::mann_kendall)
    on the daily value-cents series: exact S from the grid pair fold,
    tie-corrected var18, continuity-corrected z — theil_sen's
    significance companion."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.regress import mann_kendall

    daily = (
        _events(spark, sf_dir)
        .select(
            ts_micros("ts").alias("_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .selectExpr("_us div 86400000000 AS t", "c")
        .groupBy("t")
        .agg(F.sum("c").alias("x"))
    )
    return mann_kendall(daily)


def q_stream_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chi-square independence under the hard gate
    (streaming/windows.py::stream_chi2_test): contingency cells
    folded in the streaming state store across capped micro-batches —
    a per-key SUM monoid, so the oracle is the SAME SQL as the batch
    `chi2` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_chi2_test

    work = "/tmp/crgp_stream_chi2"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "user_id").write.parquet(work)
    return stream_chi2_test(spark, work, max_files_per_trigger=2)


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Gini coefficient (operators/gini.py::
    gini_coefficient) of per-user spend cents: partitioned rank
    window, BIGINT moments, tie-order-invariant, one float division."""
    from crgp_spark.operators.gini import gini_coefficient

    per_user = (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("g"),
            F.col("user_id").alias("u"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("g", "u")
        .agg(F.sum("c").alias("x"))
    )
    return gini_coefficient(per_user)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (operators/gini.py::benford_audit)
    of event value cents: hard-coded Benford double literals (no
    engine log), 8dp-quantized order-free chi-square fold."""
    from crgp_spark.operators.gini import benford_audit

    cents = _events(spark, sf_dir).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x")
    )
    return benford_audit(cents)


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (operators/rankcorr.py::
    spearman_rho) between each user's event count and total value
    cents: doubled midranks from value-level counts, BIGINT moments,
    one pinned-order float expression."""
    from crgp_spark.operators.rankcorr import spearman_rho

    per_user = (
        _events(spark, sf_dir)
        .select(
            F.col("user_id").alias("u"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum("c").alias("y"),
        )
    )
    return spearman_rho(per_user)


def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (operators/experiment.py::
    chi2_independence) of event_type vs experiment arm: BIGINT
    contingency counts, 8dp-quantized per-cell terms so the fold is
    order-free integer addition."""
    from crgp_spark.operators.experiment import chi2_independence

    return chi2_independence(_events(spark, sf_dir))


def q_onion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion decomposition (operators/coreness.py::
    onion_decomposition): 4 unrolled simultaneous-peel rounds —
    (vid, layer, core); the loopy-vs-tree-like mesostructure probe
    on top of the k-core family."""
    from crgp_spark.operators.coreness import onion_decomposition

    return onion_decomposition(spark, _edges_vid(spark, sf_dir), rounds=4)


def q_stream_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact two-sample KS under the hard gate
    (streaming/windows.py::stream_ks_test): per-user cent totals
    folded in the streaming state store across capped micro-batches —
    a per-key SUM monoid, so the oracle is the SAME SQL as the batch
    `ks_test` entry."""
    import shutil

    from crgp_spark.streaming.windows import stream_ks_test

    work = "/tmp/crgp_stream_ks"
    shutil.rmtree(work, ignore_errors=True)
    _events(spark, sf_dir).repartition(8, "user_id").write.parquet(work)
    return stream_ks_test(spark, work, max_files_per_trigger=2)


def q_fiedler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral bisection (operators/fiedler.py::fiedler_vector): 4
    unrolled rounds of deflated exact-integer power iteration on
    σI − L with sign-safe divisions; (vid, f_scaled, side)."""
    from crgp_spark.operators.fiedler import fiedler_vector

    return fiedler_vector(spark, _edges_vid(spark, sf_dir), rounds=4)


def q_domset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-greedy dominating set (operators/domset.py::
    dominating_set): 3 unrolled rounds of (span, -id) local maxima +
    closed-neighborhood coverage; deterministic by total priority
    order, so the unrolled MATERIALIZED-CTE oracle reproduces the set
    bit-for-bit."""
    from crgp_spark.operators.domset import dominating_set

    return dominating_set(spark, _edges_vid(spark, sf_dir), rounds=3)


def q_ego_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ego-net scan statistic (operators/graphstats.py::
    scan_statistic): per vertex, deg + triangles = edge count of the
    induced closed 1-hop neighborhood — the Priebe scan-1 anomaly
    readout; cost is one degeneracy-oriented triangle pass."""
    from crgp_spark.operators.graphstats import scan_statistic

    return scan_statistic(spark, _edges_vid(spark, sf_dir))


def q_cliques4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K4 counts per vertex (operators/triangles.py::
    four_cliques): all-forward 4-cliques under the degeneracy
    orientation — triangle extension + two closing semi-joins, every
    fan-out degeneracy-bounded."""
    from crgp_spark.operators.triangles import four_cliques

    _total, pv = four_cliques(spark, _edges_vid(spark, sf_dir))
    return pv


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the two
    experiment arms' per-user total-cents distributions
    (operators/experiment.py::ks_test): BIGINT ECDF gaps via a range-
    partitioned two-level prefix sum, one division at the end."""
    from crgp_spark.operators.experiment import ks_test

    return ks_test(_events(spark, sf_dir))


def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank change-point test on the daily value-cents series
    (operators/cusum.py::pettitt_test): U_t prefix recursion over
    value-level rank counts, BIGINT end to end — (n, K, cp day)."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.operators.cusum import pettitt_test

    daily = (
        _events(spark, sf_dir)
        .select(
            ts_micros("ts").alias("_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .selectExpr("_us div 86400000000 AS t", "c")
        .groupBy("t")
        .agg(F.sum("c").alias("x"))
    )
    return pettitt_test(daily)


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment readout (operators/experiment.py::
    cuped_summary): arms = user_id % 2, covariate = pre-Jan-4 value
    cents, metric = post-period value cents; integer sums everywhere,
    float math only on single-row aggregates in pinned order."""
    from crgp_spark.operators.experiment import cuped_summary

    return cuped_summary(_events(spark, sf_dir), split_day=19726)


def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (experiment.py::srm_check): unit
    counts per arm + chi-square statistic vs equal split (2 arms: the
    two-term float sum is commutative, so row order can't matter)."""
    from crgp_spark.operators.experiment import srm_check

    return srm_check(_events(spark, sf_dir))


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (sources/snapshot.py::SnapshotTable.merge_upsert):
    copy-on-write upsert into a snapshot table — every 7th customer's
    segment rewritten, every 11th re-keyed high as an insert — then a
    per-segment rollup of the HEAD read; the oracle computes the
    merged state analytically from the same modular rules."""
    import shutil

    from crgp_spark.sources.snapshot import SnapshotTable, read_table

    work = "/tmp/crgp_merge_dim"
    shutil.rmtree(work, ignore_errors=True)
    cust = _tbl(spark, sf_dir, "customer")
    t = SnapshotTable(work)
    t.overwrite(cust)
    key = F.col("c_custkey")
    updates = cust.where(key % 7 == 0).withColumn(
        "c_mktsegment", F.lit("MERGED")
    )
    inserts = cust.where(key % 11 == 0).withColumn(
        "c_custkey", key + F.lit(1_000_000_000)
    )
    t.merge_upsert(spark, updates.unionByName(inserts), ["c_custkey"])
    merged = read_table(spark, t.path)
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    return (
        merged.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("bal_cents"))
        .orderBy("c_mktsegment")
    )


def q_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with the delete clause (snapshot.py::merge_upsert
    delete_where): every 13th customer tombstoned (matched -> deleted),
    every 7th-not-13th re-segmented, every 11th re-keyed high as an
    insert, plus unmatched tombstones that must NOT be inserted; the
    oracle rebuilds the merged state analytically from the same modular
    rules."""
    import shutil

    from crgp_spark.sources.snapshot import SnapshotTable, read_table

    work = "/tmp/crgp_merge_del"
    shutil.rmtree(work, ignore_errors=True)
    cust = _tbl(spark, sf_dir, "customer")
    t = SnapshotTable(work)
    t.overwrite(cust)
    key = F.col("c_custkey")
    updates = cust.where((key % 7 == 0) & (key % 13 != 0)).withColumn(
        "c_mktsegment", F.lit("MERGED")
    )
    tombs = cust.where(key % 13 == 0).withColumn(
        "c_mktsegment", F.lit("TOMBSTONE")
    )
    ghost_tombs = cust.where(key % 17 == 0).withColumn(
        "c_custkey", key + F.lit(2_000_000_000)
    ).withColumn("c_mktsegment", F.lit("TOMBSTONE"))
    inserts = cust.where(key % 11 == 0).withColumn(
        "c_custkey", key + F.lit(1_000_000_000)
    )
    t.merge_upsert(
        spark,
        updates.unionByName(tombs).unionByName(ghost_tombs).unionByName(inserts),
        ["c_custkey"],
        delete_where="c_mktsegment = 'TOMBSTONE'",
    )
    merged = read_table(spark, t.path)
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    return (
        merged.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("bal_cents"))
        .orderBy("c_mktsegment")
    )


def q_table_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse maintenance path end-to-end (VERDICT r3 #6/#7):
    orders appended in 8 small slices (small-file litter), compacted
    via SnapshotTable.rewrite_files (compaction_plan bins -> one data
    dir), old snapshots GC'd via expire_snapshots(keep_last=2) — then
    the HEAD read must still equal the original table (oracle: straight
    rollup of orders). pytest covers file-count reduction and
    time-travel/crash safety; this gates data fidelity."""
    import shutil

    from crgp_spark.sources.snapshot import SnapshotTable, read_table

    work = "/tmp/crgp_maint"
    shutil.rmtree(work, ignore_errors=True)
    orders = _tbl(spark, sf_dir, "orders")
    t = SnapshotTable(work)
    key = F.col("o_orderkey")
    for i in range(8):
        slice_i = orders.where(key % 8 == i).repartition(4)
        t.append(slice_i)
    t.rewrite_files(spark, target_bytes=64 * 1024 * 1024)
    t.expire_snapshots(keep_last=2)
    head = read_table(spark, t.path)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        head.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("price_cents"))
        .orderBy("o_orderpriority")
    )


def q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic maximal matching over the influence graph
    (operators/matching.py::maximal_matching, 4 local-min edge
    rounds)."""
    from crgp_spark.operators.matching import maximal_matching

    return maximal_matching(
        spark, _edges_vid(spark, sf_dir), rounds=4, cfg=_graph_cfg()
    )


def q_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-approximate minimum vertex cover — the endpoints of a maximal
    matching (the classic Gavril/Yannakakis bound; every edge is
    covered because an uncovered one could still be matched). Reuses
    the 4-round deterministic matching; output = the cover's vids."""
    from crgp_spark.operators.matching import maximal_matching

    m = maximal_matching(
        spark, _edges_vid(spark, sf_dir), rounds=4, cfg=_graph_cfg()
    )
    return (
        m.select(F.col("u").alias("vid"))
        .unionByName(m.select(F.col("v").alias("vid")))
        .distinct()
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table schema evolution (sources/snapshot.py::read with
    merge_schema): a base snapshot, then an append carrying a NEW
    loyalty_tier column (every 3rd customer) — the merged HEAD read
    widens the schema and NULL-backfills old rows, and the rollup over
    the union must be exact. The oracle derives the same union
    analytically."""
    import shutil

    from crgp_spark.sources.snapshot import SnapshotTable

    cust = _tbl(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    base = cust.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        cents.alias("bal_cents"),
    )
    evolved = cust.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        cents.alias("bal_cents"),
        F.when(F.col("c_acctbal") >= 5000, F.lit("gold"))
        .otherwise(F.lit("basic"))
        .alias("loyalty_tier"),
    )
    work = "/tmp/crgp_schema_evo"
    shutil.rmtree(work, ignore_errors=True)
    t = SnapshotTable(work)
    t.overwrite(base)
    t.append(evolved)
    merged = t.read(spark, merge_schema=True)
    return merged.groupBy("segment", "loyalty_tier").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_cents").alias("bal_cents"),
    )


def q_er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution, composing four audited operators:
    deterministic dirty duplicates (every 7th customer re-keyed with an
    appended-char name and a later version) -> FastSS ED-1 blocking +
    verify (fuzzy.py) -> match-graph clustering
    (components.connected_components) -> survivorship merge
    (survivor.golden_records: latest name/balance by version, modal
    segment). Names are md5-prefix handles so the only systematic ED-1
    matches are the planted ones; the oracle replays the identical
    construction."""
    from crgp_spark.operators.components import connected_components
    from crgp_spark.operators.fuzzy import fuzzy_pairs_ed1
    from crgp_spark.operators.survivor import golden_records

    cust = _tbl(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    handle = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12)
    clean = cust.select(
        F.col("c_custkey").alias("key"),
        handle.alias("name"),
        cents.alias("bal_cents"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).cast("long").alias("ver"),
    )
    dirty = cust.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1_000_000_000).alias("key"),
        F.concat(handle, F.lit("x")).alias("name"),
        (cents + 5).alias("bal_cents"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(2).cast("long").alias("ver"),
    )
    recs = clean.unionByName(dirty).withColumn(
        "ts", F.timestamp_micros("ver")
    )
    pairs = fuzzy_pairs_ed1(
        recs.select(F.col("name").alias("s")).distinct()
    )
    n2k = recs.select("name", "key")
    edges = (
        pairs.join(
            n2k.withColumnRenamed("name", "s1").withColumnRenamed(
                "key", "src"
            ),
            "s1",
        )
        .join(
            n2k.withColumnRenamed("name", "s2").withColumnRenamed(
                "key", "dst"
            ),
            "s2",
        )
        .select("src", "dst")
    )
    comp = connected_components(spark, edges, _graph_cfg(), algo_name="er_cc")
    labeled = recs.join(
        comp.withColumnRenamed("vid", "key"), "key", "left"
    ).withColumn("cluster", F.coalesce("component", "key"))
    g = golden_records(
        labeled,
        "cluster",
        "ts",
        ["key"],
        latest_cols=["name", "bal_cents"],
        mode_cols=["segment"],
    )
    return g.select(
        "cluster", "n_records", "first_us", "last_us",
        "latest_name", "latest_bal_cents", "mode_segment",
    )


def q_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence latency (operators/sssp.py::bounded_sssp): min total
    turn-gap from each conversation's originator, Bellman-Ford with 4
    fixed relaxation rounds, weights clamped at >= 1 (originator edges
    may point backward in turn order, leaf.rs:53-66)."""
    from crgp_spark.operators.sssp import bounded_sssp

    e = _edge_turns(spark, sf_dir)
    vid = lambda c: _uid("conv_id") * 100000 + F.col(c)  # noqa: E731
    edges = e.select(
        vid("src_turn").alias("src"),
        vid("dst_turn").alias("dst"),
        F.greatest(
            F.col("dst_turn").cast("long") - F.col("src_turn"), F.lit(1)
        ).alias("w"),
    )
    sources = e.select(vid("orig_turn").alias("vid")).distinct()
    return bounded_sssp(spark, edges, sources, rounds=4, cfg=_graph_cfg())


def q_virality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation structural virality (radius-3 Wiener index,
    operators/virality.py) — mean pairwise geodesic distance of each
    cascade, derived from the cascade-local harmonic level counts."""
    from crgp_spark.operators.virality import structural_virality

    return structural_virality(
        spark, _edges_vid_conv(spark, sf_dir), radius=3, cfg=_graph_cfg()
    )


def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the influence graph under the
    latency weights (operators/msf.py::minimum_spanning_forest,
    Borůvka) — unique under the (w, u, v) total order, so the oracle's
    unrolled rounds must agree edge for edge."""
    from crgp_spark.operators.msf import minimum_spanning_forest

    e = _edge_turns(spark, sf_dir)
    vid = lambda c: _uid("conv_id") * 100000 + F.col(c)  # noqa: E731
    edges = e.select(
        vid("src_turn").alias("src"),
        vid("dst_turn").alias("dst"),
        F.greatest(
            F.col("dst_turn").cast("long") - F.col("src_turn"), F.lit(1)
        ).alias("w"),
    )
    return minimum_spanning_forest(spark, edges, cfg=_graph_cfg())


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-pair betweenness numerators, integer-exact
    (operators/betweenness.py::betweenness_seeded): 8 md5-chosen seeds,
    each paired with its farthest in-radius-4 vertex; geodesic counts
    through every interior vertex."""
    from crgp_spark.operators.betweenness import betweenness_seeded

    return betweenness_seeded(
        spark, _edges_vid(spark, sf_dir), n_seeds=8, radius=4, cfg=_graph_cfg()
    )


def q_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-walk corpus over the influence graph
    (operators/walks.py::hash_walks, 4 steps, one walk per
    non-dangling vertex)."""
    from crgp_spark.operators.walks import hash_walks

    return hash_walks(spark, _edges_vid(spark, sf_dir), steps=4, cfg=_graph_cfg())


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/curation.py::redact_pii) over deterministic
    customer contact cards.  The warehouse tables carry no natural
    contact strings, so the card text (name, synthetic e-mail, phone,
    profile URL, IPv4) is constructed identically in both engines from
    ``c_custkey`` — the operator under test is the generic staged
    count-then-mask chain, which here matches every category on every
    row."""
    from crgp_spark.operators.curation import redact_pii

    k = F.col("c_custkey")
    card = F.concat(
        F.col("c_name"),
        F.lit(" <user"),
        k.cast("string"),
        F.lit("@example.com> tel "),
        (k % 900 + 100).cast("string"),
        F.lit("-"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k % 10000).cast("string"), 4, "0"),
        F.lit(" https://example.com/u/"),
        k.cast("string"),
        F.lit(" ip 10.0."),
        (k % 256).cast("string"),
        F.lit("."),
        (k % 250).cast("string"),
    )
    docs = _tbl(spark, sf_dir, "customer").select(
        k.alias("doc_id"), card.alias("text")
    )
    return redact_pii(docs)


def q_tpch_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog: conditional priority counts per return-flag class
    (relational.py::shipmode_priority_counts)."""
    from crgp_spark.operators.relational import shipmode_priority_counts

    return shipmode_priority_counts(
        _tbl(spark, sf_dir, "orders"), _tbl(spark, sf_dir, "lineitem")
    )


def q_tpch_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog: nation x year profit rollup
    (relational.py::product_type_profit)."""
    from crgp_spark.operators.relational import product_type_profit

    return product_type_profit(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "orders"),
    )


def q_tpch_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: suppliers leading a part's shipped quantity
    (relational.py::dominant_part_suppliers, share_den=8 — more than
    an eighth of the part's total; the classic majority threshold is
    vacuously empty on the evenly-spread synthetic data, VERDICT r4
    fix-it #1)."""
    from crgp_spark.operators.relational import dominant_part_suppliers

    return dominant_part_suppliers(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        share_den=8,
    )


def q_tpch_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 analog: above-average-balance customers who never placed a
    single LARGE order (relational.py::prospect_customers,
    big_order_min=400000 — every synthetic customer has some order, so
    the classic no-orders NOT EXISTS is vacuously empty, VERDICT r4
    fix-it #1)."""
    from crgp_spark.operators.relational import prospect_customers

    return prospect_customers(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "nation"),
        big_order_min=400000.0,
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed exact-quota stratified sampling under the hard gate:
    the per-source bottom-10 of the (md5_num60(doc_id), doc_id) hash
    order maintained as bounded keyed state across capped micro-batches
    (streaming/sampling.py). Bottom-R of a hash order is an order-free
    commutative fold, so the drain equals the batch sample and the
    oracle is the SAME naive full-sort ROW_NUMBER() <= 10 SQL as the
    batch stratified_sample entry."""
    import shutil

    from crgp_spark.streaming.sampling import stream_stratified_sample

    work = "/tmp/crgp_stream_sample"
    shutil.rmtree(work, ignore_errors=True)
    _docs(spark, sf_dir).select("doc_id", "source").repartition(
        8, "doc_id"
    ).write.parquet(work)
    return stream_stratified_sample(
        spark, work, "source", "doc_id", quota=10, max_files_per_trigger=2
    )


def q_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed incremental view maintenance under the hard gate
    (streaming/ivm.py): the per-segment count+balance rollup kept live
    against a time-chunked CDC feed, one delta-propagation step per
    micro-batch — the engine never re-aggregates the facts.  The feed
    is replayed in (v_us, v_seq) order, so the last epoch touching a
    key holds its global winner and the drained view equals the batch
    `ivm` answer; the oracle is the SAME full-recompute SQL."""
    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.ivm import stream_maintain_rollup
    from crgp_spark.streaming.scd import write_time_chunks

    base = _tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        "c_mktsegment",
    )
    ev = _events(spark, sf_dir)
    changes = ev.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "c_name"
        ),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        ts_micros(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
        # write_time_chunks orders the replay by (us, event_id) — the
        # same total order the maintainer uses as order_cols
        ts_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    work = "/tmp/crgp_stream_ivm"
    write_time_chunks(changes, work, n_chunks=4)
    view = stream_maintain_rollup(
        spark,
        base,
        work,
        key_cols=["c_custkey"],
        order_cols=["v_us", "v_seq"],
        group_cols=["c_mktsegment"],
        val_col="bal_cents",
    )
    return view.select(
        "c_mktsegment", "n", F.col("total").alias("bal_cents")
    )


def q_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridges of the influence graph (operators/bridges.py): the
    influence links with no redundant path — exact, deterministic
    (BFS forest from component minima + Euler-tour interval labels +
    the low-link escape test; no hashing). The oracle replays the
    equivalent closure-based pipeline with recursive CTEs — the
    bridge set is spanning-tree- and formulation-independent."""
    from crgp_spark.operators.bridges import bridges

    return bridges(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_ecc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-edge-connected components (operators/bridges.py::
    two_edge_components): component labels after deleting every
    bridge — min vid per class, bridge-stranded vertices
    self-labeled."""
    from crgp_spark.operators.bridges import two_edge_components

    return two_edge_components(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biconnected components of the influence graph
    (operators/blocks.py): every edge labeled with its block — the
    fundamental-cycle star reduction over the bridges substrate,
    labels = minimum tree-edge child vid per block."""
    from crgp_spark.operators.blocks import blocks

    return blocks(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_articulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articulation points (operators/blocks.py): vertices incident to
    >= 2 distinct blocks — the conversation participants whose removal
    severs influence flow."""
    from crgp_spark.operators.blocks import articulation_points

    return articulation_points(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed incremental connected components under the hard gate
    (streaming/graph.py): the influence edge table drained in 4 chunks,
    labels maintained by per-epoch contraction (previous labels as star
    edges + the new batch through one components pass). Components is
    an order-free commutative fold, so the drained labeling equals the
    batch run and the oracle is the SAME SQL as the batch `components`
    entry."""
    from crgp_spark.streaming.graph import stream_components
    from crgp_spark.streaming.scd import write_time_chunks

    e = _edges_vid(spark, sf_dir)
    feed = e.select(
        "src", "dst",
        F.col("src").alias("us"),
        F.col("dst").alias("event_id"),
    )
    work = "/tmp/crgp_stream_cc"
    write_time_chunks(feed, work, n_chunks=4)
    return stream_components(spark, work, _graph_cfg()).select(
        "vid", "component"
    )


def q_stream_wl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed incremental WL refinement under the hard gate
    (streaming/wl.py): the 2-round color tables maintained while the
    edge table drains in 4 chunks — per epoch only the batch's 2-hop
    ball recolors (round-r colors are r-hop-local). Oracle = the SAME
    SQL as the batch `wl_colors` entry."""
    from crgp_spark.streaming.scd import write_time_chunks
    from crgp_spark.streaming.wl import stream_wl

    e = _edges_vid(spark, sf_dir)
    feed = e.select(
        "src", "dst",
        F.col("src").alias("us"),
        F.col("dst").alias("event_id"),
    )
    work = "/tmp/crgp_stream_wl"
    write_time_chunks(feed, work, n_chunks=4)
    return stream_wl(spark, work, _graph_cfg()).select("vid", "color")


def q_bridges_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridges over the cascade-local layout (cascade_algos.py::
    cascade_bridges): one vectorized LCA-walk kernel per conversation,
    no supersteps — exact because fundamental cycles never cross
    conversations. Same oracle as the generic `bridges` entry."""
    from crgp_spark.operators.cascade_algos import cascade_bridges

    return cascade_bridges(
        spark, _edges_vid_conv(spark, sf_dir), _graph_cfg()
    )


def q_spanning_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BFS spanning forest (operators/bridges.py::
    bfs_forest): per vertex its component root, hop distance and
    parent (MIN neighbor one hop closer) — the rooted-forest substrate
    the whole connectivity family shares."""
    from crgp_spark.operators.bridges import bfs_forest

    return bfs_forest(spark, _edges_vid(spark, sf_dir), _graph_cfg()).select(
        "vid", "comp", "dist", "parent"
    )


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantized Gram/covariance accumulator over the embedding
    table — the PCA-whitening precursor every embedding pipeline runs:
    vectors quantized to integer micro-units, then
    G[i,j] = Σ_docs q_i * q_j as exact BIGINTs (4096 cells for the
    64-dim table), plus the mean accumulators. Pure explode+groupBy —
    map-side combinable, no float-order sensitivity."""
    emb = _tbl(spark, sf_dir, "embeddings")
    # explode pairs from one carried quantized vector per row — no
    # self-join, no synthetic row ids; the double cast BEFORE the
    # multiply is the engine-wide float32 quantization idiom
    qv = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * 1000000.0 + F.lit(0.5)
            ).cast("long"),
        ).alias("q")
    )
    pairs = qv.select(
        F.posexplode("q").alias("i", "qi"), F.col("q")
    ).select(
        "i", "qi", F.posexplode("q").alias("j", "qj")
    ).filter(F.col("j") >= F.col("i"))
    return pairs.groupBy("i", "j").agg(
        F.sum(F.col("qi") * F.col("qj")).alias("dot"),
        F.sum("qi").alias("sum_i"),
        F.count(F.lit(1)).alias("n"),
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (sources/columnar.py): events
    written hive-partitioned by event_type (timestamps pre-converted
    to exact micros), read back with a partition-pruned filter and
    rolled up — counts and integer sums must survive the format
    round-trip bit-exactly. Oracle computes the same rollup straight
    from the parquet feed."""
    import shutil

    from crgp_spark.functions import ts_micros
    from crgp_spark.sources.columnar import read_orc, write_orc

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        ts_micros(F.col("ts")).alias("us"),
    )
    work = "/tmp/crgp_orc"
    shutil.rmtree(work, ignore_errors=True)
    write_orc(ev, work, partition_by=["event_type"])
    back = read_orc(spark, work).filter(F.col("event_type") != "click")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
    )


def q_stream_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed incremental triangle counting under the hard gate
    (streaming/graph.py::TriangleMaintainer): per-vertex counts
    maintained while the edge table drains in 4 chunks — each triangle
    counted exactly once, in the epoch its last edge arrives; per-epoch
    work proportional to the new edges' neighborhoods. Oracle = the
    SAME SQL as the batch `triangles` entry."""
    from crgp_spark.streaming.graph import stream_triangles
    from crgp_spark.streaming.scd import write_time_chunks

    e = _edges_vid(spark, sf_dir)
    feed = e.select(
        "src", "dst",
        F.col("src").alias("us"),
        F.col("dst").alias("event_id"),
    )
    work = "/tmp/crgp_stream_tri"
    write_time_chunks(feed, work, n_chunks=4)
    return stream_triangles(spark, work, _graph_cfg()).select(
        "vid", "triangles"
    )


def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement over the influence graph
    (operators/wl.py::wl_refine, 2 rounds): the message-passing-GNN
    expressiveness fingerprint — md5_num60 of (own color | sorted
    neighbor colors), initial color = degree."""
    from crgp_spark.operators.wl import wl_refine

    return wl_refine(spark, _edges_vid(spark, sf_dir), rounds=2,
                     cfg=_graph_cfg())


def q_block_cut_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-cut tree of the influence graph (operators/blocks.py::
    block_cut_tree): one (cut vertex, incident block) edge per pair —
    the bipartite decomposition tree."""
    from crgp_spark.operators.blocks import block_cut_tree

    return block_cut_tree(spark, _edges_vid(spark, sf_dir), _graph_cfg())


def q_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the actor-succession graph
    (operators/scc.py::condensation): distinct cross-SCC adjacencies,
    labels = SCC minimum vertex id — the acyclic quotient downstream
    DAG analyses run on."""
    from crgp_spark.operators.scc import condensation
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=3)
    return condensation(spark, g, _graph_cfg())


def q_dag_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path layering of the condensation DAG
    (operators/scc.py::condensation_layers): layer 0 = source SCCs,
    layer(v) = 1 + max(pred) — exact max-relaxation supersteps."""
    from crgp_spark.operators.scc import condensation_layers
    from crgp_spark.operators.transitions import succession_graph

    g = succession_graph(_events(spark, sf_dir), min_weight=3)
    return condensation_layers(spark, g, _graph_cfg())


#: stream_late epoch plan: 6 rank-sliced time chunks replayed in this
#: arrival order (slice -> file position), 1-hour windows, 144-hour
#: watermark delay — chosen so the gate exercises every behavior class:
#: full accepts via the one-batch watermark lag, intra-batch partial
#: drops (the watermark lands inside slices 1 and 3), full drops, and
#: final-watermark emit truncation.
_LATE_ORDER = [2, 0, 4, 1, 5, 3]
_LATE_DELAY_MS = 144 * 3_600_000


def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order/late-data streaming under the hard gate
    (streaming/late.py): the events table sliced into 6 time chunks
    replayed in a SHUFFLED order through an append-mode watermarked
    1-hour window aggregation (144 h delay, one file per micro-batch).
    The oracle replays Spark's measured watermark semantics as a pure
    batch filter: per-batch ms-floored running max (one-batch lag) for
    the strict-inequality late filter, final watermark for the emit
    cut — acceptance-set equality makes the integer-cent totals
    bit-for-bit equal."""
    import shutil
    import tempfile

    from crgp_spark.functions import ts_micros
    from crgp_spark.streaming.late import (
        stream_late_counts,
        write_shuffled_chunks,
    )

    # a directory of its own per call: concurrent runs must not
    # overwrite each other's chunks; the result sits in a memory sink,
    # so the chunks are dropped once the stream has drained
    work = tempfile.mkdtemp(prefix="crgp_stream_late_")
    try:
        feed = _events(spark, sf_dir).select(
            "event_id", "event_type", "value", "ts",
            ts_micros("ts").alias("us"),
        )
        write_shuffled_chunks(feed, work, _LATE_ORDER)
        return stream_late_counts(
            spark, work, window="1 hour", delay="144 hours"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed MERGE INTO under the hard gate (streaming/merge.py):
    the customer snapshot kept current against the time-chunked CDC
    feed, one copy-on-write MERGE commit per micro-batch, every epoch
    time-travel readable. The replay is (v_us, v_seq)-ordered so the
    drained HEAD equals the one-shot batch apply — the oracle is the
    SAME SQL as the batch `cdc_apply` entry."""
    import shutil

    from crgp_spark.functions import ts_micros
    from crgp_spark.sources.snapshot import SnapshotTable
    from crgp_spark.streaming.merge import stream_merge_cdc
    from crgp_spark.streaming.scd import write_time_chunks

    base = _tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        "c_mktsegment",
    )
    ev = _events(spark, sf_dir)
    changes = ev.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "c_name"
        ),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
        F.col("event_type").alias("c_mktsegment"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        ts_micros(F.col("ts")).alias("v_us"),
        F.col("event_id").alias("v_seq"),
        ts_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    feed = "/tmp/crgp_stream_merge_feed"
    write_time_chunks(changes, feed, n_chunks=4)
    tdir = "/tmp/crgp_stream_merge_tbl"
    shutil.rmtree(tdir, ignore_errors=True)
    t = SnapshotTable(tdir)
    t.overwrite(base)
    return stream_merge_cdc(
        spark, t, feed, key_cols=["c_custkey"], order_cols=["v_us", "v_seq"]
    ).select("c_custkey", "c_name", "c_nationkey", "bal_cents", "c_mktsegment")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1 bigram LM self-scoring (operators/lm.py::lm_score) — the
    CCNet-style fluency filter; nll_scaled is an exact BIGINT micro-nat
    total in both engines, avg_nll one IEEE division."""
    from crgp_spark.operators.lm import lm_score, ngram_lm

    docs = _docs(spark, sf_dir)
    return lm_score(docs, ngram_lm(docs))


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier
    (operators/lm.py::nb_classify) — fastText-style supervised gate;
    exact integer scores, ties break to the smallest label."""
    from crgp_spark.operators.lm import nb_classify, nb_train

    docs = _docs(spark, sf_dir)
    return nb_classify(docs, nb_train(docs))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/lm.py::dsir_weights) —
    hashed-bigram log-likelihood ratio of the lang='en' target slice
    vs the raw pool (Xie et al. 2023), exact BIGINT micro-nats."""
    from crgp_spark.operators.lm import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), F.col("lang") == "en")


#: Round-5 driver-gate window: 50 entries never officially gated in
#: r01–r04 (the connectivity family, MSF, Louvain, hierarchy, BPE,
#: logistic training, the late-r4 streaming paths — the VERDICT r4 ask)
#: plus this round's new operators. `queries()` moves these to the
#: front of the dict; the driver gates the FIRST 50.
_R5_GATE_FRONT = [
    "bridges", "ecc2", "blocks", "articulation", "block_cut_tree",
    "bridges_cascade", "msf", "louvain", "louvain_coarse", "hierarchy",
    "bpe_train", "bpe_encode", "train_logistic", "stream_funnel",
    "stream_merge", "stream_components", "stream_triangles", "stream_wl",
    "scc", "condensation", "dag_layers", "temporal_reach", "anf",
    "anf_vertex", "hll", "densest", "coreness", "betweenness", "harmonic",
    "katz", "motifs", "triads", "truss_decomp", "walks", "mis", "matching",
    "semdedup", "dup_spans", "inference", "kmeans", "kcenter", "ann_recall",
    "stratified_sample", "merge_upsert", "merge_delete",
    "table_maintenance", "ivm",
    # round-5 additions
    "stream_late", "leiden", "diameter",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is a rotation policy, not alphabetical: the driver's
    # correctness gate executes the FIRST 50 entries of this dict, so each
    # round the entries without an official CORRECTNESS_r*.json row yet are
    # moved to the front (`_R5_GATE_FRONT` this round). Previously-gated
    # entries follow in their prior order.
    # scripts/check_entry.py still runs the full surface locally.
    d = {
        # --- new in round 4 (never gated) ---
        "ks_test": q_ks_test,
        "pettitt": q_pettitt,
        "ego_scan": q_ego_scan,
        "cliques4": q_cliques4,
        "domset": q_domset,
        "fiedler": q_fiedler,
        "stream_ks": q_stream_ks,
        "onion": q_onion,
        "spearman": q_spearman,
        "chi2": q_chi2,
        "gini": q_gini,
        "benford": q_benford,
        "assoc": q_assoc,
        "mann_kendall": q_mann_kendall,
        "stream_chi2": q_stream_chi2,
        "mutual_info": q_mutual_info,
        "jsd": q_jsd,
        "psi": q_psi,
        "did": q_did,
        "kaplan_meier": q_kaplan_meier,
        "powerlaw": q_powerlaw,
        "bipartite": q_bipartite,
        "stump": q_stump,
        "prop_test": q_prop_test,
        "hard_negatives": q_hard_negatives,
        "kfold": q_kfold,
        "kendall_tau": q_kendall_tau,
        "heaps": q_heaps,
        "stream_benford": q_stream_benford,
        "cramers_v": q_cramers_v,
        "odds_ratio": q_odds_ratio,
        "confusion": q_confusion,
        "butterflies": q_butterflies,
        "butterflies_conv": q_butterflies_conv,
        "closeness": q_closeness,
        "salsa": q_salsa,
        "ic_sim": q_ic_sim,
        "snapshot_diff": q_snapshot_diff,
        "stream_histq": q_stream_histq,
        "eigencent": q_eigencent,
        "closeness_cascade": q_closeness_cascade,
        "percolation": q_percolation,
        "sweep_cut": q_sweep_cut,
        "auc": q_auc,
        "calibration": q_calibration,
        "stream_auc": q_stream_auc,
        "lsh_recall": q_lsh_recall,
        "temporal_pr": q_temporal_pr,
        "stream_calibration": q_stream_calibration,
        "bursts": q_bursts,
        "truss_decomp": q_truss_decomp,
        "stream_sample": q_stream_sample,
        "lm_perplexity": q_lm_perplexity,
        "nb_classify": q_nb_classify,
        "dsir_weights": q_dsir_weights,
        "conv_stats": q_conv_stats,
        "succession": q_succession,
        "scc": q_scc,
        "temporal_reach": q_temporal_reach,
        "motifs": q_motifs,
        "triads": q_triads,
        "coreness": q_coreness,
        "richclub": q_richclub,
        "cusum": q_cusum,
        "stream_cusum": q_stream_cusum,
        "seqmatch": q_seqmatch,
        "stream_seqmatch": q_stream_seqmatch,
        "grouping_sets": q_grouping_sets,
        "stratified_sample": q_stratified_sample,
        "graph_mixing": q_graph_mixing,
        "modularity": q_modularity,
        "stream_temporal": q_stream_temporal,
        "inference": q_inference,
        "quantiles_approx": q_quantiles_approx,
        "merge_delete": q_merge_delete,
        "table_maintenance": q_table_maintenance,
        "stream_dimjoin": q_stream_dimjoin,
        "stream_hh": q_stream_hh,
        "dup_spans": q_dup_spans,
        "bucketed_join": q_bucketed_join,
        "cdc_apply": q_cdc_apply,
        "train_logistic": q_train_logistic,
        "bpe_train": q_bpe_train,
        "zone_skip": q_zone_skip,
        "skyline": q_skyline,
        "resample": q_resample,
        "ivm": q_ivm,
        "msf": q_msf,
        "bpe_encode": q_bpe_encode,
        "trend": q_trend,
        "kanon": q_kanon,
        "mad": q_mad,
        "anf": q_anf,
        "anf_vertex": q_anf_vertex,
        "hll": q_hll,
        "stream_hll": q_stream_hll,
        "acf": q_acf,
        "densest": q_densest,
        "densest_sub": q_densest_sub,
        "hierarchy": q_hierarchy,
        "stream_anomaly": q_stream_anomaly,
        "entropy": q_entropy,
        "kcenter": q_kcenter,
        "weighted_sample": q_weighted_sample,
        "seasonal": q_seasonal,
        "ann_recall": q_ann_recall,
        "theil_sen": q_theil_sen,
        "novelty": q_novelty,
        "winsorize": q_winsorize,
        "edge_jaccard": q_edge_jaccard,
        "sparsify": q_sparsify,
        "stream_funnel": q_stream_funnel,
        "stage_latency": q_stage_latency,
        "katz": q_katz,
        "stream_ivm": q_stream_ivm,
        "stream_merge": q_stream_merge,
        "stream_late": q_stream_late,
        "bridges": q_bridges,
        "ecc2": q_ecc2,
        "blocks": q_blocks,
        "articulation": q_articulation,
        "block_cut_tree": q_block_cut_tree,
        "condensation": q_condensation,
        "dag_layers": q_dag_layers,
        "wl_colors": q_wl_colors,
        "stream_components": q_stream_components,
        "stream_triangles": q_stream_triangles,
        "orc_roundtrip": q_orc_roundtrip,
        "spanning_forest": q_spanning_forest,
        "embedding_gram": q_embedding_gram,
        "bridges_cascade": q_bridges_cascade,
        "stream_wl": q_stream_wl,
        "vertex_cover": q_vertex_cover,
        "er_pipeline": q_er_pipeline,
        "schema_evolution": q_schema_evolution,
        # --- round 1-3 entries without an official gate row yet ---
        "betweenness": q_betweenness,
        "virality": q_virality,
        "latency": q_latency,
        "matching": q_matching,
        "kmv": q_kmv,
        "kmv_rollup": q_kmv_rollup,
        "bloom_join": q_bloom_join,
        "scd2": q_scd2,
        "profile": q_profile,
        "quality_checks": q_quality_checks,
        "attribution": q_attribution,
        "hist_quantiles": q_hist_quantiles,
        "stream_scd2": q_stream_scd2,
        "streaks": q_streaks,
        "salted_join": q_salted_join,
        "kmv_overlap": q_kmv_overlap,
        "target_encode": q_target_encode,
        "feature_hash": q_feature_hash,
        "golden": q_golden,
        "table_diff": q_table_diff,
        "anomaly": q_anomaly,
        "compaction": q_compaction,
        "shards": q_shards,
        "rank_norm": q_rank_norm,
        "adoption": q_adoption,
        "scd2_join": q_scd2_join,
        "join_discovery": q_join_discovery,
        "inverted_index": q_inverted_index,
        "search": q_search,
        "cuped": q_cuped,
        "srm": q_srm,
        "merge_upsert": q_merge_upsert,
        "zorder": q_zorder,
        "fuzzy": q_fuzzy,
        "snm": q_snm,
        "transitions": q_transitions,
        "mixture": q_mixture,
        "coarsen": q_coarsen,
        "setsim": q_setsim,
        "chunks": q_chunks,
        "collocations": q_collocations,
        "knn_sq8": q_knn_sq8,
        "knn_pq": q_knn_pq,
        "simhash_pairs": q_simhash_pairs,
        "simhash_dedup": q_simhash_dedup,
        "semdedup": q_semdedup,
        "heavy_hitters": q_heavy_hitters,
        "coloring": q_coloring,
        "tpch_exists": q_tpch_exists,
        "tpch_notexists": q_tpch_notexists,
        "tpch_suppcnt": q_tpch_suppcnt,
        "tpch_scalar": q_tpch_scalar,
        "tpch_corrmin": q_tpch_corrmin,
        "tpch_forecast": q_tpch_forecast,
        "tpch_volume": q_tpch_volume,
        "tpch_share": q_tpch_share,
        "tpch_returned": q_tpch_returned,
        "tpch_bigorders": q_tpch_bigorders,
        "tpch_disjunct": q_tpch_disjunct,
        "tpch_topsupp": q_tpch_topsupp,
        "tpch_prospects": q_tpch_prospects,
        "tpch_shipmode": q_tpch_shipmode,
        "tpch_profit": q_tpch_profit,
        "tpch_dominant": q_tpch_dominant,
        "pii_redact": q_pii_redact,
        "walks": q_walks,
        "stream_sessions": q_stream_sessions,
        "harmonic": q_harmonic,
        "harmonic_cascade": q_harmonic_cascade,
        "eccentricity": q_eccentricity,
        "featprop": q_featprop,
        "mis": q_mis,
        "seqpack": q_seqpack,
        "kmeans": q_kmeans,
        "neighbor_sample": q_neighbor_sample,
        "cohort": q_cohort,
        "funnel": q_funnel,
        "pivot": q_pivot,
        "unpivot": q_unpivot,
        "cube": q_cube,
        "rolling": q_rolling,
        "window_funcs": q_window_funcs,
        "turns": q_turns,
        "activations": q_activations,
        "derive_edges": q_derive_edges,
        "stream_edges": q_stream_edges,
        "stream_window": q_stream_window,
        "quantiles": q_quantiles,
        "stream_dedup": q_stream_dedup,
        "stream_ivjoin": q_stream_ivjoin,
        "asof": q_asof,
        "range_join": q_range_join,
        "top_influencers": q_top_influencers,
        "pagerank": q_pagerank,
        "components": q_components,
        "labelprop": q_labelprop,
        "louvain": q_louvain,
        "leiden": q_leiden,
        "diameter": q_diameter,
        "louvain_coarse": q_louvain_coarse,
        "triangles": q_triangles,
        "pagerank_cascade": q_pagerank_cascade,
        "components_cascade": q_components_cascade,
        "labelprop_cascade": q_labelprop_cascade,
        "triangles_cascade": q_triangles_cascade,
        "bfs": q_bfs,
        "bfs_cascade": q_bfs_cascade,
        "hits": q_hits,
        "ppr": q_ppr,
        "clustering": q_clustering,
        "linkpred": q_linkpred,
        "kcore": q_kcore,
        "ktruss": q_ktruss,
        "coparticipation": q_coparticipation,
        "pagerank_weighted": q_pagerank_weighted,
        "graph_summary": q_graph_summary,
        "degree_hist": q_degree_hist,
        "ngram_topk": q_ngram_topk,
        "tfidf": q_tfidf,
        "exact_dedup": q_exact_dedup,
        "fingerprint": q_fingerprint,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "bpe_tokens": q_bpe_tokens,
        "winnow": q_winnow,
        "minhash": q_minhash,
        "lsh_pairs": q_lsh_pairs,
        "jaccard": q_jaccard,
        "minhash_dedup": q_minhash_dedup,
        "neardup_clusters": q_neardup_clusters,
        "doc_sample": q_doc_sample,
        "stratified": q_stratified,
        "decontaminate": q_decontaminate,
        "repetition": q_repetition,
        "boilerplate": q_boilerplate,
        "multimodal_features": q_multimodal_features,
        "knn": q_knn,
        "knn_ivf": q_knn_ivf,
        "knn_lsh": q_knn_lsh,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "events_json": q_events_json,
        "sessions": q_sessions,
        "simhash": q_simhash,
        "tpch_pricing": q_tpch_pricing,
        "tpch_topk_orders": q_tpch_topk_orders,
        "tpch_region_revenue": q_tpch_region_revenue,
        "tpch_lapsed": q_tpch_lapsed,
        "tpch_smallqty": q_tpch_smallqty,
        "tpch_promo": q_tpch_promo,
        "tpch_window": q_tpch_window,
        "tpch_rollup": q_tpch_rollup,
        "tpch_custdist": q_tpch_custdist,
    }
    out = {k: d[k] for k in _R5_GATE_FRONT if k in d}
    for k, v in d.items():
        if k not in out:
            out[k] = v
    return out


def oracle_sql() -> dict[str, str]:
    d = {
        # parallel-greedy dominating set (domset.py): unrolled rounds
        "domset": _sql_domset(rounds=3),
        # spectral bisection (fiedler.py): deflated integer power
        # iteration, sign-safe divisions
        "fiedler": _sql_fiedler(rounds=4),
        # onion decomposition (coreness.py): ratcheting peel threshold
        "onion": _sql_onion(rounds=4),
        # ego-net scan statistic (graphstats.py::scan_statistic):
        # deg + triangles-through-v = closed-ego-net edge count
        "ego_scan": f"WITH {_SQL_EVID},\n"
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a,"
        " GREATEST(src, dst) AS b FROM e WHERE src <> dst),\n"
        "deg AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS deg FROM (\n"
        "  SELECT a AS vid FROM und UNION ALL SELECT b FROM und\n"
        ") GROUP BY vid),\n"
        "tri AS (\n"
        "  SELECT ab.a AS x, ab.b AS y, bc.b AS z\n"
        "  FROM und ab JOIN und bc ON bc.a = ab.b"
        " JOIN und ac ON ac.a = ab.a AND ac.b = bc.b\n"
        "),\n"
        "cnt AS (\n"
        "  SELECT vid, CAST(COUNT(*) AS BIGINT) AS triangles FROM (\n"
        "    SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri"
        " UNION ALL SELECT z FROM tri\n"
        "  ) GROUP BY vid\n"
        ")\n"
        "SELECT deg.vid, deg.deg,\n"
        "       COALESCE(cnt.triangles, 0) AS triangles,\n"
        "       deg.deg + COALESCE(cnt.triangles, 0) AS scan1\n"
        "FROM deg LEFT JOIN cnt ON cnt.vid = deg.vid",
        # exact K4-per-vertex (triangles.py::four_cliques): id-ordered
        # 6-edge join — orientation-independent count
        "cliques4": f"WITH {_SQL_EVID},\n"
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a,"
        " GREATEST(src, dst) AS b FROM e WHERE src <> dst),\n"
        "k4 AS (\n"
        "  SELECT ab.a AS va, ab.b AS vb, ac.b AS vc, ad.b AS vd\n"
        "  FROM und ab\n"
        "  JOIN und ac ON ac.a = ab.a AND ac.b > ab.b\n"
        "  JOIN und ad ON ad.a = ab.a AND ad.b > ac.b\n"
        "  JOIN und bc ON bc.a = ab.b AND bc.b = ac.b\n"
        "  JOIN und bd ON bd.a = ab.b AND bd.b = ad.b\n"
        "  JOIN und cd ON cd.a = ac.b AND cd.b = ad.b\n"
        "),\n"
        "cnt AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS k4 FROM (\n"
        "  SELECT va AS vid FROM k4 UNION ALL SELECT vb FROM k4\n"
        "  UNION ALL SELECT vc FROM k4 UNION ALL SELECT vd FROM k4\n"
        ") GROUP BY vid),\n"
        "allv AS (SELECT DISTINCT a AS vid FROM und"
        " UNION SELECT b FROM und)\n"
        "SELECT allv.vid, COALESCE(cnt.k4, 0) AS k4\n"
        "FROM allv LEFT JOIN cnt ON cnt.vid = allv.vid",
        # Cramér's V from the quantized chi2 fold (experiment.py)
        "cramers_v": """
WITH cells AS (
  SELECT event_type AS cat, CAST(user_id % 2 AS INT) AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM events GROUP BY 1, 2
),
r AS (SELECT cat, CAST(SUM(n_obs) AS BIGINT) AS rt
      FROM cells GROUP BY cat),
c AS (SELECT arm, CAST(SUM(n_obs) AS BIGINT) AS ct
      FROM cells GROUP BY arm),
t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT cat) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT arm) AS BIGINT) AS nc FROM cells),
terms AS (
  SELECT cells.n_obs,
         CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
           / CAST(t.n AS DOUBLE) AS e
  FROM cells JOIN r ON r.cat = cells.cat
  JOIN c ON c.arm = cells.arm, t
),
q AS (
  SELECT CAST(FLOOR((CAST(n_obs AS DOUBLE) - e)
              * (CAST(n_obs AS DOUBLE) - e) / e * 100000000.0 + 0.5)
              AS BIGINT) AS tq
  FROM terms
),
x AS (
  SELECT t.n,
         CAST((SELECT SUM(tq) FROM q) AS DOUBLE) / 100000000.0
           AS chi2_raw,
         FLOOR(CAST((SELECT SUM(tq) FROM q) AS DOUBLE) / 100000000.0
               * 10000.0 + 0.5) / 10000.0 AS chi2,
         CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
         LEAST(t.nr - 1, t.nc - 1) AS mindof
  FROM t
)
SELECT n, chi2, dof,
       CASE WHEN n > 0 AND mindof > 0 AND chi2_raw >= 0
            THEN FLOOR(SQRT(chi2_raw / (CAST(n AS DOUBLE)
                 * CAST(mindof AS DOUBLE))) * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS v
FROM x""",
        # conversion odds ratio + Woolf CI (experiment.py)
        "odds_ratio": """
WITH pu AS (
  SELECT user_id AS u,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv
  FROM events GROUP BY user_id
),
g AS (
  SELECT
    CAST(SUM(CASE WHEN u % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(SUM(CASE WHEN u % 2 = 1 AND conv = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(SUM(CASE WHEN u % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(SUM(CASE WHEN u % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS d
  FROM pu
)
SELECT a, b, c, d,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN FLOOR((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS or_val,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN FLOOR(EXP(LN((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 - 1.96 * SQRT(1.0 / CAST(a AS DOUBLE)
                   + 1.0 / CAST(b AS DOUBLE)
                   + 1.0 / CAST(c AS DOUBLE)
                   + 1.0 / CAST(d AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS lo,
       CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
            THEN FLOOR(EXP(LN((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 + 1.96 * SQRT(1.0 / CAST(a AS DOUBLE)
                   + 1.0 / CAST(b AS DOUBLE)
                   + 1.0 / CAST(c AS DOUBLE)
                   + 1.0 / CAST(d AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS hi
FROM g""",
        # thresholded confusion report (evalmetrics.py)
        "confusion": """
WITH g AS (
  SELECT
    CAST(SUM(CASE WHEN n_chars >= 1000 AND lang = 'en'
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN n_chars >= 1000 AND lang <> 'en'
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN n_chars < 1000 AND lang = 'en'
             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN n_chars < 1000 AND lang <> 'en'
             THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM documents
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN FLOOR(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END
         AS precision,
       CASE WHEN tp + fn > 0
            THEN FLOOR(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN FLOOR(2.0 * CAST(tp AS DOUBLE)
                 / CAST(2 * tp + fp + fn AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS f1,
       CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
                 AND tn + fn > 0
            THEN FLOOR(CAST(tp * tn - fp * fn AS DOUBLE)
                 / SQRT(CAST(tp + fp AS DOUBLE)
                        * CAST(tp + fn AS DOUBLE)
                        * CAST(tn + fp AS DOUBLE)
                        * CAST(tn + fn AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS mcc
FROM g""",
        # group-safe k-fold audit (sample.py::kfold_assign)
        "kfold": f"""
WITH hh AS (
  SELECT user_id AS k, MD5(CAST(user_id AS VARCHAR)) AS h,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
r AS (
  SELECT CAST(({_MD5_U32}) % 5 AS INT) AS fold, k, y FROM hh
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       FLOOR(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS pos_rate
FROM r GROUP BY fold ORDER BY fold""",
        # Kendall tau-b on the daily grid (regress.py::kendall_tau)
        "kendall_tau": """
WITH s AS (
  SELECT EPOCH_US(ts) // 86400000000 AS t,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
           * CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                  ELSE 0 END AS prod,
         CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tiex,
         CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS tiey
  FROM s a JOIN s b ON a.t < b.t
),
g AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS nc,
         CAST(COALESCE(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS nd,
         CAST(COALESCE(SUM(tiex), 0) AS BIGINT) AS tx,
         CAST(COALESCE(SUM(tiey), 0) AS BIGINT) AS ty
  FROM p
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
SELECT nn.n, g.nc, g.nd, g.tx, g.ty,
       CASE WHEN nn.n * (nn.n - 1) // 2 - g.tx > 0
                 AND nn.n * (nn.n - 1) // 2 - g.ty > 0
            THEN FLOOR(CAST(g.nc - g.nd AS DOUBLE)
                 / SQRT(CAST(nn.n * (nn.n - 1) // 2 - g.tx AS DOUBLE)
                        * CAST(nn.n * (nn.n - 1) // 2 - g.ty
                               AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS tau
FROM nn, g""",
        # Heaps-law fit (textstats.py::heaps_fit)
        "heaps": f"""WITH {_SQL_SHINGLES},
tok AS (SELECT t.doc_id, UNNEST(t.tk) AS term FROM tk t
        WHERE LEN(t.tk) > 0),
pd AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2)
  GROUP BY doc_id HAVING SUM(c) >= 1
),
pts AS (
  SELECT {_sql_lnq('n_tokens')} AS x,
         {_sql_lnq('n_distinct')} AS y
  FROM pd
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n AS n_docs,
       FLOOR(CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) <> 0
             THEN CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS beta,
       FLOOR((CAST(sy AS DOUBLE)
              - (CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) <> 0
                 THEN CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 ELSE 0.0 END) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) * 100.0 + 0.5) / 100.0 AS logk_unats
FROM g""",
        # contrastive hard negatives (dedup.py::hard_negatives)
        "hard_negatives": f"WITH {_SQL_MINHASH},\n"
        "bands AS (\n"
        "  SELECT doc_id, 0 AS band, sig_0 AS key FROM sig\n"
        "  UNION ALL SELECT doc_id, 1, sig_1 FROM sig\n"
        "  UNION ALL SELECT doc_id, 2, sig_2 FROM sig\n"
        "  UNION ALL SELECT doc_id, 3, sig_3 FROM sig\n"
        "),\n"
        "cand AS (\n"
        "  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b\n"
        "  FROM bands l JOIN bands r\n"
        "    ON l.band = r.band AND l.key = r.key\n"
        "  WHERE l.doc_id < r.doc_id\n"
        "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh"
        " GROUP BY doc_id),\n"
        "inter AS (\n"
        "  SELECT c.a, c.b, COUNT(*) AS i\n"
        "  FROM cand c JOIN sh x ON x.doc_id = c.a\n"
        "  JOIN sh y ON y.doc_id = c.b AND y.s = x.s\n"
        "  GROUP BY c.a, c.b\n"
        "),\n"
        "pairs AS (\n"
        "  SELECT c.a, c.b, COALESCE(i.i, 0) AS inter,\n"
        "         sa.n + sb.n - COALESCE(i.i, 0) AS uni\n"
        "  FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b\n"
        "  JOIN sizes sa ON sa.doc_id = c.a\n"
        "  JOIN sizes sb ON sb.doc_id = c.b\n"
        "),\n"
        "mid AS (SELECT * FROM pairs\n"
        "        WHERE inter * 100 >= 1 * uni AND inter * 2 < 1 * uni),\n"
        "bothp AS (\n"
        "  SELECT a AS anchor, b AS neg, inter, uni FROM mid\n"
        "  UNION ALL SELECT b, a, inter, uni FROM mid\n"
        "),\n"
        "rk AS (\n"
        "  SELECT anchor, neg, inter, uni,\n"
        "         CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS sim,\n"
        "         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY\n"
        "           CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) DESC,\n"
        "           neg) AS rn\n"
        "  FROM bothp\n"
        ")\n"
        "SELECT anchor, neg, CAST(inter AS INT) AS inter,\n"
        "       CAST(uni AS INT) AS uni, sim\n"
        "FROM rk WHERE rn <= 5",
        # best depth-1 Gini split (stump.py::stump_train)
        "stump": """
WITH b AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 200 AS f_bucket,
         (EPOCH_US(ts) // 3600000000) % 24 AS f_hour,
         user_id % 10 AS f_user,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
m AS (
  SELECT 'f_bucket' AS feature, f_bucket AS v, y FROM b
  UNION ALL SELECT 'f_hour', f_hour, y FROM b
  UNION ALL SELECT 'f_user', f_user, y FROM b
),
cells AS (SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(y) AS BIGINT) AS x
          FROM m GROUP BY 1, 2),
cum AS (
  SELECT feature, v AS threshold,
         CAST(SUM(c) OVER (PARTITION BY feature ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
         CAST(SUM(x) OVER (PARTITION BY feature ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS xl,
         CAST(SUM(c) OVER (PARTITION BY feature) AS BIGINT) AS n,
         CAST(SUM(x) OVER (PARTITION BY feature) AS BIGINT) AS x
  FROM cells
),
split AS (
  SELECT feature, threshold, nl AS n_left, xl AS pos_left,
         n - nl AS n_right, x - xl AS pos_right
  FROM cum WHERE nl > 0 AND n - nl > 0
),
sc AS (
  SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
         CAST((pos_left * pos_left
               + (n_left - pos_left) * (n_left - pos_left)) * n_right
              + (pos_right * pos_right
                 + (n_right - pos_right) * (n_right - pos_right))
                * n_left AS DOUBLE)
         / CAST(n_left * n_right AS DOUBLE) AS score
  FROM split
)
SELECT feature, threshold, score,
       n_left, pos_left, n_right, pos_right
FROM sc ORDER BY score DESC, feature, threshold LIMIT 1""",
        # two-proportion z-test (experiment.py::prop_test)
        "prop_test": """
WITH pu AS (
  SELECT user_id AS u,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT CAST(u % 2 AS INT) AS arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS x
  FROM pu GROUP BY 1
),
j AS (
  SELECT (SELECT n FROM arms WHERE arm = 0) AS n0,
         (SELECT x FROM arms WHERE arm = 0) AS x0,
         (SELECT n FROM arms WHERE arm = 1) AS n1,
         (SELECT x FROM arms WHERE arm = 1) AS x1
)
SELECT n0, x0, n1, x1,
       FLOOR(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS p0,
       FLOOR(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS p1,
       CASE WHEN n0 > 0 AND n1 > 0 AND x0 + x1 > 0
                 AND x0 + x1 < n0 + n1
            THEN FLOOR((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 / SQRT(((CAST(x0 AS DOUBLE) + CAST(x1 AS DOUBLE))
                         / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
                        * (1.0 - (CAST(x0 AS DOUBLE)
                                  + CAST(x1 AS DOUBLE))
                           / (CAST(n0 AS DOUBLE)
                              + CAST(n1 AS DOUBLE)))
                        * (1.0 / CAST(n0 AS DOUBLE)
                           + 1.0 / CAST(n1 AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS z
FROM j""",
        # per-component bipartiteness (components.py::bipartite_check)
        "bipartite": f"""WITH RECURSIVE {_SQL_EVID},
verts AS (SELECT DISTINCT vid FROM
          (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u,
       GREATEST(src, dst) AS v FROM e WHERE src <> dst),
sym AS MATERIALIZED (SELECT u, v FROM und
       UNION ALL SELECT v AS u, u AS v FROM und),
comp AS (SELECT vid, MIN(vid) OVER (PARTITION BY vid // 100000)
           AS component FROM verts),
roots AS (SELECT DISTINCT component AS vid FROM comp),
bfs AS (
  SELECT vid, 0 AS d FROM roots
  UNION
  SELECT s.v AS vid, b.d + 1 AS d FROM bfs b
  JOIN sym s ON s.u = b.vid WHERE b.d < 100
),
dist AS (SELECT vid, CAST(MIN(d) AS BIGINT) AS dist
         FROM bfs GROUP BY vid),
ed AS (
  SELECT c.component,
         CASE WHEN (da.dist + db.dist) % 2 = 0 THEN 1 ELSE 0 END
           AS odd
  FROM und JOIN dist da ON da.vid = und.u
  JOIN dist db ON db.vid = und.v
  JOIN comp c ON c.vid = und.u
),
er AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_edges,
              CAST(SUM(odd) AS BIGINT) AS odd_edges
       FROM ed GROUP BY component),
vr AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_vertices
       FROM comp GROUP BY component),
-- guard (ADVICE r4): this oracle derives components as the per-
-- conversation minimum and BFS-walks from that single root, which is
-- only the engine's semantics when every conversation subgraph is
-- connected.  If a BFS misses a vertex, fail loudly instead of
-- silently dropping its edges from the parity counts.
chk AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM dist)
                 = (SELECT COUNT(*) FROM verts) THEN 1
         ELSE error('bipartite oracle: block-root BFS did not reach '
                    || 'every vertex - conversation subgraph '
                    || 'disconnected; oracle assumption violated')
         END AS ok
)
SELECT vr.component, vr.n_vertices,
       COALESCE(er.n_edges, 0) AS n_edges,
       COALESCE(er.odd_edges, 0) AS odd_edges,
       COALESCE(er.odd_edges, 0) = 0 AS bipartite
FROM vr LEFT JOIN er ON er.component = vr.component, chk
WHERE chk.ok = 1
ORDER BY vr.component""",
        # degree-tail power-law MLE (graphstats.py::powerlaw_alpha)
        "powerlaw": f"""
WITH {_SQL_EVID},
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
deg AS (
  SELECT vid, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS vid FROM und UNION ALL SELECT b FROM und
  ) GROUP BY vid
),
tail AS (SELECT deg FROM deg WHERE deg >= 2),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(COALESCE(SUM({_sql_lnq('deg')}
              - {_sql_lnq('2')}), 0) AS BIGINT) AS denom_scaled
  FROM tail
)
SELECT n_tail, CAST(2 AS BIGINT) AS d_min, denom_scaled,
       CASE WHEN denom_scaled > 0
            THEN FLOOR((1.0 + CAST(n_tail AS DOUBLE) * 1000000.0
                 / CAST(denom_scaled AS DOUBLE)) * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS alpha
FROM g""",
        # Kaplan-Meier on the quantized-log scale (survival.py)
        "kaplan_meier": f"""
WITH b AS (
  SELECT user_id AS u, EPOCH_US(ts) // 86400000000 AS day FROM events
),
pu AS (SELECT u, MIN(day) AS fd, MAX(day) AS ld FROM b GROUP BY u),
gm AS (SELECT MAX(ld) AS gmax FROM pu),
subj AS (
  SELECT CAST(ld - fd + 1 AS BIGINT) AS dur,
         CASE WHEN ld >= gm.gmax - 2 THEN 0 ELSE 1 END AS ev
  FROM pu, gm
),
durs AS (
  SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d_events,
         CAST(SUM(1 - ev) AS BIGINT) AS c_censored,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM subj GROUP BY dur
),
tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM durs),
risk AS (
  SELECT t, d_events, c_censored,
         CAST(tot.n - COALESCE(SUM(m) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM durs, tot
),
curve AS (
  SELECT t, n_risk, d_events, c_censored,
         CAST(SUM(CASE WHEN d_events > 0 AND n_risk > d_events
              THEN {_sql_lnq('n_risk - d_events')}
                   - {_sql_lnq('n_risk')}
              ELSE 0 END) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS lns,
         MAX(CASE WHEN n_risk <= d_events THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS z
  FROM risk
)
SELECT t, n_risk, d_events, c_censored,
       CASE WHEN z = 1 THEN NULL ELSE lns END AS lns_scaled
FROM curve ORDER BY t""",
        # quantized-ln PSI (infotheory.py): +1-smoothed buckets
        "psi": f"""
WITH b AS (
  SELECT EPOCH_US(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 500 AS bucket
  FROM events
),
ba AS (SELECT bucket AS k, CAST(COUNT(*) AS BIGINT) AS a0
       FROM b WHERE day < 19726 GROUP BY bucket),
bc AS (SELECT bucket AS k, CAST(COUNT(*) AS BIGINT) AS b0
       FROM b WHERE day >= 19726 GROUP BY bucket),
cells AS (
  SELECT COALESCE(ba.k, bc.k) AS k,
         CAST(COALESCE(ba.a0, 0) + 1 AS BIGINT) AS a,
         CAST(COALESCE(bc.b0, 0) + 1 AS BIGINT) AS b
  FROM ba FULL OUTER JOIN bc ON bc.k = ba.k
),
t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb FROM cells),
g AS (
  SELECT t.na, t.nb,
         CAST(SUM(a * ({_sql_lnq('a * t.nb')}
              - {_sql_lnq('b * t.na')})) AS BIGINT) AS sa_scaled,
         CAST(SUM(b * ({_sql_lnq('a * t.nb')}
              - {_sql_lnq('b * t.na')})) AS BIGINT) AS sb_scaled
  FROM cells, t GROUP BY t.na, t.nb
)
SELECT na AS n_base, nb AS n_cur, sa_scaled, sb_scaled,
       FLOOR((CAST(sa_scaled AS DOUBLE)
              / (1000000.0 * CAST(na AS DOUBLE))
              - CAST(sb_scaled AS DOUBLE)
              / (1000000.0 * CAST(nb AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS psi
FROM g""",
        # difference-in-differences (experiment.py::did_estimate)
        "did": """
WITH b AS (
  SELECT user_id AS u, EPOCH_US(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
pa AS (
  SELECT CAST(u % 2 AS INT) AS arm,
         CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN day < 19726 THEN c ELSE 0 END) AS BIGINT)
           AS pre_c,
         CAST(SUM(CASE WHEN day >= 19726 THEN c ELSE 0 END) AS BIGINT)
           AS post_c
  FROM b GROUP BY 1
),
j AS (
  SELECT (SELECT n_users FROM pa WHERE arm = 0) AS n0,
         (SELECT pre_c FROM pa WHERE arm = 0) AS pre0_c,
         (SELECT post_c FROM pa WHERE arm = 0) AS post0_c,
         (SELECT n_users FROM pa WHERE arm = 1) AS n1,
         (SELECT pre_c FROM pa WHERE arm = 1) AS pre1_c,
         (SELECT post_c FROM pa WHERE arm = 1) AS post1_c
)
SELECT n0, n1,
       FLOOR(CAST(pre0_c AS DOUBLE) / (100.0 * CAST(n0 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS pre0,
       FLOOR(CAST(post0_c AS DOUBLE) / (100.0 * CAST(n0 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS post0,
       FLOOR(CAST(pre1_c AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS pre1,
       FLOOR(CAST(post1_c AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS post1,
       FLOOR(((CAST(post1_c AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE))
               - CAST(pre1_c AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE)))
              - (CAST(post0_c AS DOUBLE) / (100.0 * CAST(n0 AS DOUBLE))
                 - CAST(pre0_c AS DOUBLE)
                   / (100.0 * CAST(n0 AS DOUBLE))))
             * 10000.0 + 0.5) / 10000.0 AS did
FROM j""",
        # quantized-ln MI + NMI (infotheory.py)
        "mutual_info": _sql_mutual_info(),
        # quantized-ln Jensen-Shannon divergence (infotheory.py)
        "jsd": _sql_jsd(),
        # pairwise association rules (assoc.py): basket self-join
        "assoc": """
WITH bk AS (SELECT DISTINCT user_id AS u, event_type AS item
            FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM bk),
ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
       FROM bk GROUP BY item),
p AS (
  SELECT l.item AS a, r.item AS b2, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM bk l JOIN bk r ON l.u = r.u AND l.item < r.item
  GROUP BY 1, 2
)
SELECT p.a, p.b2 AS b, p.n_ab,
       ia.n_item AS n_a, ib.n_item AS n_b,
       FLOOR(CAST(n_ab AS DOUBLE) / CAST(nu.n AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS support,
       FLOOR(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS conf_ab,
       FLOOR(CAST(n_ab AS DOUBLE) / CAST(ib.n_item AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS conf_ba,
       FLOOR(CAST(nu.n AS DOUBLE) * CAST(n_ab AS DOUBLE)
             / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM p JOIN ic ia ON ia.item = p.a JOIN ic ib ON ib.item = p.b2, nu
ORDER BY a, b""",
        # Mann-Kendall trend test (regress.py): grid pair fold
        "mann_kendall": """
WITH s AS (
  SELECT EPOCH_US(ts) // 86400000000 AS t,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS x
  FROM events GROUP BY 1
),
sv AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1
                                WHEN b.x < a.x THEN -1
                                ELSE 0 END), 0) AS BIGINT) AS s
  FROM s a JOIN s b ON a.t < b.t
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
ti AS (
  SELECT CAST(COALESCE(SUM(g * (g - 1) * (2 * g + 5)), 0) AS BIGINT)
           AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM s GROUP BY x)
),
j AS (
  SELECT nn.n, sv.s,
         CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ti.tie18 AS BIGINT)
           AS var18
  FROM nn, sv, ti
)
SELECT n, s, var18,
       CASE WHEN var18 > 0 AND s > 0
            THEN FLOOR(CAST(s - 1 AS DOUBLE)
                 / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                 * 1000000.0 + 0.5) / 1000000.0
            WHEN var18 > 0 AND s < 0
            THEN FLOOR(CAST(s + 1 AS DOUBLE)
                 / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS z
FROM j""",
        # per-group Gini (gini.py): tie-invariant rank moments
        "gini": """
WITH pu AS (
  SELECT event_type AS g, user_id AS u,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS x
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT g, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS BIGINT)
           AS i
  FROM pu
),
a AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS total,
         CAST(SUM(i * x) AS BIGINT) AS s2
  FROM rk GROUP BY g
)
SELECT g, n, total, s2,
       CASE WHEN total > 0 AND n > 0
            THEN FLOOR(CAST(2 * s2 - (n + 1) * total AS DOUBLE)
                 / CAST(n * total AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS gini
FROM a ORDER BY g""",
        # Benford first-digit audit (gini.py): literal expectations
        "benford": _sql_benford(),
        # exact Spearman rho (rankcorr.py): doubled midranks, BIGINT
        # moments, one pinned float expression
        "spearman": """
WITH pu AS (
  SELECT user_id AS u, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY user_id
),
rx AS (
  SELECT x,
         CAST(2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS BIGINT)
           AS r2x
  FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM pu GROUP BY x)
),
ry AS (
  SELECT y,
         CAST(2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS BIGINT)
           AS r2y
  FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM pu GROUP BY y)
),
rk AS (
  SELECT rx.r2x, ry.r2y
  FROM pu JOIN rx ON rx.x = pu.x JOIN ry ON ry.y = pu.y
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r2x) AS BIGINT) AS sx,
         CAST(SUM(r2y) AS BIGINT) AS sy,
         CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
         CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
         CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
  FROM rk
)
SELECT n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS denx,
       CAST(n * syy - sy * sy AS BIGINT) AS deny,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS rho
FROM g""",
        # chi-square independence (experiment.py::chi2_independence):
        # 8dp-quantized terms, order-free integer fold
        "chi2": """
WITH cells AS (
  SELECT event_type AS cat, CAST(user_id % 2 AS INT) AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM events GROUP BY 1, 2
),
r AS (SELECT cat, CAST(SUM(n_obs) AS BIGINT) AS rt
      FROM cells GROUP BY cat),
c AS (SELECT arm, CAST(SUM(n_obs) AS BIGINT) AS ct
      FROM cells GROUP BY arm),
t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT cat) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT arm) AS BIGINT) AS nc FROM cells),
terms AS (
  SELECT cells.cat, cells.arm, cells.n_obs,
         CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
           / CAST(t.n AS DOUBLE) AS e,
         t.nr, t.nc
  FROM cells JOIN r ON r.cat = cells.cat
  JOIN c ON c.arm = cells.arm, t
),
q AS (
  SELECT cat, arm, n_obs, e, nr, nc,
         CAST(FLOOR((CAST(n_obs AS DOUBLE) - e)
              * (CAST(n_obs AS DOUBLE) - e) / e * 100000000.0 + 0.5)
              AS BIGINT) AS tq
  FROM terms
)
SELECT cat, arm, n_obs,
       FLOOR(e * 10000.0 + 0.5) / 10000.0 AS expected,
       FLOOR(CAST((SELECT SUM(tq) FROM q) AS DOUBLE) / 100000000.0
             * 10000.0 + 0.5) / 10000.0 AS chi2,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
FROM q ORDER BY cat, arm""",
        # exact two-sample KS (experiment.py::ks_test): BIGINT ECDF
        # gaps cross-multiplied, one final division at 6dp
        "ks_test": """
WITH pu AS (
  SELECT user_id AS u,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY user_id
),
cnt AS (
  SELECT y,
         CAST(SUM(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS c0,
         CAST(SUM(CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c1
  FROM pu GROUP BY y
),
tot AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
  FROM cnt
),
cum AS (
  SELECT y,
         CAST(SUM(c0) OVER (ORDER BY y) AS BIGINT) AS cum0,
         CAST(SUM(c1) OVER (ORDER BY y) AS BIGINT) AS cum1
  FROM cnt
)
SELECT n0, n1,
       CAST(MAX(ABS(cum0 * n1 - cum1 * n0)) AS BIGINT) AS d_num,
       FLOOR(CAST(MAX(ABS(cum0 * n1 - cum1 * n0)) AS DOUBLE)
             / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS d_stat
FROM cum, tot GROUP BY n0, n1""",
        # Pettitt change-point (cusum.py::pettitt_test): rank-count
        # increment + prefix sum, earliest argmax day
        "pettitt": """
WITH s AS (
  SELECT EPOCH_US(ts) // 86400000000 AS t,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS x
  FROM events GROUP BY 1
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
cnt AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY x),
rk AS (
  SELECT x, c, CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS cle
  FROM cnt
),
w AS (
  SELECT s.t, (rk.cle - rk.c) - (nn.n - rk.cle) AS wv
  FROM s, rk, nn WHERE s.x = rk.x
),
u AS (SELECT t, CAST(SUM(wv) OVER (ORDER BY t) AS BIGINT) AS u FROM w),
k AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS k_stat FROM u)
SELECT nn.n AS n, k.k_stat, CAST(MIN(u.t) AS BIGINT) AS cp
FROM u, k, nn WHERE ABS(u.u) = k.k_stat
GROUP BY nn.n, k.k_stat""",
        # bipartite 2x2-biclique motif (butterfly.py::butterfly_counts):
        # wedge pairs through the conversation key, BIGINT binomials
        "butterflies": f"WITH {_SQL_TURNS},\n"
        "pc AS (SELECT DISTINCT conv_id, participant FROM turns),\n"
        "pr AS (SELECT l.participant AS a, r.participant AS b,\n"
        "              CAST(COUNT(*) AS BIGINT) AS s\n"
        "       FROM pc l JOIN pc r ON l.conv_id = r.conv_id\n"
        "         AND l.participant < r.participant\n"
        "       GROUP BY 1, 2),\n"
        "bo AS (SELECT a AS vid, s FROM pr\n"
        "       UNION ALL SELECT b AS vid, s FROM pr)\n"
        "SELECT vid AS participant,\n"
        "       CAST(COUNT(*) AS BIGINT) AS n_mates,\n"
        "       CAST(SUM(s) AS BIGINT) AS wedges,\n"
        "       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS butterflies\n"
        "FROM bo GROUP BY 1",
        # the same motif paired through the participant key
        "butterflies_conv": f"WITH {_SQL_TURNS},\n"
        "pc AS (SELECT DISTINCT conv_id, participant FROM turns),\n"
        "pr AS (SELECT l.conv_id AS a, r.conv_id AS b,\n"
        "              CAST(COUNT(*) AS BIGINT) AS s\n"
        "       FROM pc l JOIN pc r ON l.participant = r.participant\n"
        "         AND l.conv_id < r.conv_id\n"
        "       GROUP BY 1, 2),\n"
        "bo AS (SELECT a AS vid, s FROM pr\n"
        "       UNION ALL SELECT b AS vid, s FROM pr)\n"
        "SELECT vid AS conv_id,\n"
        "       CAST(COUNT(*) AS BIGINT) AS n_mates,\n"
        "       CAST(SUM(s) AS BIGINT) AS wedges,\n"
        "       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS butterflies\n"
        "FROM bo GROUP BY 1",
        # Wasserman-Faust closeness from the harmonic level sets
        "closeness": _sql_closeness(3),
        # cascade-kernel path must agree exactly with the generic one
        "closeness_cascade": _sql_closeness(3),
        # SALSA stochastic hubs/authorities (salsa.py), 2 rounds unrolled
        "salsa": _sql_salsa(2),
        # eigenvector centrality (eigencent.py), 3 max-rescaled rounds
        "eigencent": _sql_eigencent(3),
        # ACL sweep cut over the ppr oracle's scores (sweepcut.py)
        "sweep_cut": _sql_sweep_cut(100),
        # full truss decomposition (ktruss.py), chained pinned peels
        "truss_decomp": _sql_truss_decomp(5, 2),
        # Kleinberg bursts (bursts.py): the identical integer DP as a
        # recursive step join; same SCALE/LN2/GAMMA constants
        "bursts": """
WITH RECURSIVE
ev AS MATERIALIZED (
  SELECT user_id AS uid, CAST(EPOCH_US(ts) // 1000 AS BIGINT) AS t
  FROM events),
ord AS MATERIALIZED (
  SELECT uid, t,
         CAST(ROW_NUMBER() OVER (PARTITION BY uid ORDER BY t) AS BIGINT) AS rn
  FROM ev),
gaps AS MATERIALIZED (
  SELECT b.uid, b.rn - 1 AS idx, CAST(b.t - a.t AS BIGINT) AS x
  FROM ord a JOIN ord b ON b.uid = a.uid AND b.rn = a.rn + 1),
st AS MATERIALIZED (
  SELECT uid, CAST(COUNT(*) - 1 AS BIGINT) AS n,
         CAST(MAX(t) - MIN(t) AS BIGINT) AS span
  FROM ev GROUP BY uid),
rec AS (
  SELECT uid, CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS c0,
         CAST(100000 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS bs
  FROM st WHERE n >= 1 AND span > 0
  UNION ALL
  SELECT r.uid, r.idx + 1,
         LEAST(r.c0, r.c1) + (g.x * s.n * 100000) // s.span,
         LEAST(r.c0 + 100000, r.c1)
           + (g.x * s.n * 2 * 100000) // s.span - 69314,
         r.bs + CASE WHEN
             LEAST(r.c0 + 100000, r.c1)
               + (g.x * s.n * 2 * 100000) // s.span - 69314
             < LEAST(r.c0, r.c1) + (g.x * s.n * 100000) // s.span
           THEN 1 ELSE 0 END
  FROM rec r JOIN gaps g ON g.uid = r.uid AND g.idx = r.idx + 1
             JOIN st s ON s.uid = r.uid)
SELECT r.uid, s.n AS n_gaps, r.bs AS burst_steps,
       LEAST(r.c0, r.c1) AS cost
FROM rec r JOIN st s ON s.uid = r.uid WHERE r.idx = s.n
UNION ALL
SELECT uid, GREATEST(n, 0) AS n_gaps, CAST(0 AS BIGINT) AS burst_steps,
       CAST(0 AS BIGINT) AS cost
FROM st WHERE n < 1 OR span <= 0""",
        # temporal PageRank (temporalpr.py): 3 unrolled sparse levels
        "temporal_pr": f"""WITH {_SQL_EDGES},
et AS MATERIALIZED (
  SELECT ed.uid * 100000 + ed.src_turn AS src,
         ed.uid * 100000 + ed.dst_turn AS dst,
         CAST(EPOCH_US(t.ts) AS BIGINT) AS t
  FROM edges ed JOIN turns t
    ON t.conv_id = ed.conv_id AND t.turn_idx = ed.dst_turn),
w1 AS MATERIALIZED (SELECT src, dst, t, CAST(500000 AS BIGINT) AS w FROM et),
w2 AS MATERIALIZED (
  SELECT c.src, c.dst, c.t, CAST(SUM(p.w) // 2 AS BIGINT) AS w
  FROM et c JOIN w1 p ON p.dst = c.src AND p.t < c.t
  GROUP BY 1, 2, 3),
w3 AS MATERIALIZED (
  SELECT c.src, c.dst, c.t, CAST(SUM(p.w) // 2 AS BIGINT) AS w
  FROM et c JOIN w2 p ON p.dst = c.src AND p.t < c.t
  GROUP BY 1, 2, 3),
sc AS (SELECT dst AS vid, CAST(SUM(w) AS BIGINT) AS s FROM (
         SELECT dst, w FROM w1 UNION ALL SELECT dst, w FROM w2
         UNION ALL SELECT dst, w FROM w3) GROUP BY 1),
verts AS (SELECT DISTINCT vid FROM (
            SELECT src AS vid FROM et UNION ALL SELECT dst FROM et)),
base AS MATERIALIZED (
  SELECT v.vid, CAST(COALESCE(sc.s, 0) AS BIGINT) AS tpr_scaled
  FROM verts v LEFT JOIN sc ON sc.vid = v.vid),
tot AS (SELECT CAST(SUM(tpr_scaled) AS BIGINT) AS t FROM base)
SELECT vid, tpr_scaled,
  CASE WHEN tot.t > 0
       THEN CAST(tpr_scaled AS DOUBLE) / CAST(tot.t AS DOUBLE)
       ELSE 0.0 END AS tpr
FROM base, tot""",
        # measured LSH recall/precision vs exact Jaccard pairs
        "lsh_recall": f"""WITH {_SQL_MINHASH},
bands AS (
  SELECT doc_id, 0 AS band, sig_0 || '|' || sig_1 AS key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, sig_2 || '|' || sig_3 AS key FROM sig
),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM sh GROUP BY doc_id),
it AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS i
       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       GROUP BY 1, 2),
exact AS MATERIALIZED (
  SELECT a, b FROM it JOIN sizes sa ON sa.doc_id = it.a
                      JOIN sizes sb ON sb.doc_id = it.b
  WHERE 5 * i > 3 * (sa.n + sb.n - i)),
hit AS MATERIALIZED (SELECT a, b FROM exact INTERSECT SELECT a, b FROM cand),
cnt AS (SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
               CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit)
SELECT n_exact, n_cand, n_hit,
       CASE WHEN n_exact > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)
            ELSE 0.0 END AS recall,
       CASE WHEN n_cand > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
            ELSE 0.0 END AS precision
FROM cnt""",
        # exact midrank Mann-Whitney AUC (evalmetrics.py::roc_auc)
        "auc": """
WITH g AS (SELECT n_chars AS s, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS pos
           FROM documents GROUP BY 1),
rk AS (SELECT cnt, pos,
              CAST(1 + COALESCE(SUM(cnt) OVER (
                ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS BIGINT) AS r_lo
       FROM g),
ag AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
              CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
              CAST(SUM(pos * (2 * r_lo + cnt - 1)) AS BIGINT) AS s2
       FROM rk)
SELECT n_pos, n_neg,
       CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE)
            ELSE 0.0 END AS auc
FROM ag""",
        # reliability diagram (evalmetrics.py::calibration_curve)
        "calibration": """
WITH b AS (SELECT n_chars // 200 AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_pos
           FROM documents GROUP BY 1)
SELECT bucket, n, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
FROM b""",
        # deterministic independent-cascade diffusion (icsim.py)
        "ic_sim": _sql_ic_sim(3, 10, 20, 4),
        # bond percolation: true components of the md5-coin live-edge
        # subgraph via bounded recursive closure (conversation-local)
        "percolation": "WITH RECURSIVE " + _sql_evid() + f""",
lw AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           MD5('perc:' || CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS h
    FROM e)
  WHERE ({_MD5_U32}) % 2 < 1),
sym AS MATERIALIZED (SELECT src, dst FROM lw WHERE src <> dst
       UNION SELECT dst, src FROM lw WHERE src <> dst),
verts AS (SELECT DISTINCT src AS vid FROM sym),
reach(vid, lbl) AS (
  SELECT vid, vid FROM verts
  UNION
  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.vid
),
comp AS (SELECT vid, MIN(lbl) AS component FROM reach GROUP BY vid),
sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS size
       FROM comp GROUP BY component)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sz GROUP BY size""",
        # time-travel changelog between snapshot versions: statuses
        # derived analytically from the same modular v2 rules
        "snapshot_diff": """
SELECT c_custkey, 'removed' AS status FROM customer WHERE c_custkey % 5 = 0
UNION ALL
SELECT c_custkey, 'changed' AS status FROM customer
WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
UNION ALL
SELECT c_custkey + 1000000000 AS c_custkey, 'added' AS status
FROM customer WHERE c_custkey % 11 = 0""",
        # stream==batch: the streamed bottom-quota keyed state must equal
        # the batch stratified sample verbatim (streaming/sampling.py)
        "stream_sample": f"""
WITH hx AS (
  SELECT doc_id, source, MD5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(({_hex15_num('h')}) AS BIGINT), doc_id) AS rk
  FROM hx
)
SELECT doc_id, source FROM ranked WHERE rk <= 10""",
        # add-1 bigram LM self-scoring (lm.py::lm_score): quantized-log
        # micro-nat sums are exact BIGINTs; avg_nll is one IEEE division
        "lm_perplexity": f"""WITH {_SQL_BIGRAMS},
vocab AS (SELECT COUNT(DISTINCT t) AS v
          FROM (SELECT UNNEST(tk) AS t FROM tk WHERE LEN(tk) > 0)),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
cc AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS ctx FROM bg GROUP BY 1),
pm AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
       FROM bg GROUP BY 1, 2, 3),
j AS (
  SELECT pm.doc_id, pm.m,
         {_sql_lnq("COALESCE(cc.ctx, 0) + v.v")}
         - {_sql_lnq("COALESCE(bc.c, 0) + 1")} AS nllq
  FROM pm
  LEFT JOIN bc ON bc.w1 = pm.w1 AND bc.w2 = pm.w2
  LEFT JOIN cc ON cc.w1 = pm.w1
  CROSS JOIN vocab v
),
folded AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         CAST(SUM(m * nllq) AS BIGINT) AS nll_scaled
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(f.n_bigrams, 0) AS n_bigrams,
       COALESCE(f.nll_scaled, 0) AS nll_scaled,
       CASE WHEN COALESCE(f.n_bigrams, 0) = 0 THEN 0.0
            ELSE CAST(f.nll_scaled AS DOUBLE)
                 / CAST(f.n_bigrams * 1000000 AS DOUBLE) END AS avg_nll
FROM documents d LEFT JOIN folded f ON f.doc_id = d.doc_id""",
        # multinomial naive Bayes (lm.py::nb_classify): exact integer
        # class scores, argmax with min-label tie-break in both engines
        "nb_classify": f"""WITH {_SQL_SHINGLES},
tok AS (SELECT doc_id, UNNEST(tk) AS t FROM tk WHERE LEN(tk) > 0),
term AS (SELECT d.lang AS label, tok.t, CAST(COUNT(*) AS BIGINT) AS c
         FROM tok JOIN documents d ON d.doc_id = tok.doc_id GROUP BY 1, 2),
cls AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
clstok AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n_tokens
           FROM term GROUP BY 1),
tot AS (SELECT (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS v,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS dd),
dt AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS m
       FROM tok GROUP BY 1, 2),
cov AS (SELECT dt.doc_id, term.label,
               CAST(SUM(dt.m * {_sql_lnq("term.c + 1")}) AS BIGINT) AS cov
        FROM dt JOIN term ON term.t = dt.t GROUP BY 1, 2),
nd AS (SELECT d.doc_id, COALESCE(x.n_d, 0) AS n_d
       FROM documents d
       LEFT JOIN (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_d
                  FROM dt GROUP BY 1) x ON x.doc_id = d.doc_id),
clsq AS (SELECT c.label,
                {_sql_lnq("c.n_docs")} - {_sql_lnq("t.dd")} AS prior_q,
                {_sql_lnq("COALESCE(ct.n_tokens, 0) + t.v")} AS den_q
         FROM cls c LEFT JOIN clstok ct ON ct.label = c.label
         CROSS JOIN tot t),
cells AS (SELECT nd.doc_id, q.label,
                 q.prior_q + COALESCE(cov.cov, 0)
                 - nd.n_d * q.den_q AS score_q
          FROM nd CROSS JOIN clsq q
          LEFT JOIN cov ON cov.doc_id = nd.doc_id AND cov.label = q.label),
best AS (SELECT doc_id, MAX(score_q) AS score_q FROM cells GROUP BY 1),
pred AS (SELECT c.doc_id, c.score_q, MIN(c.label) AS pred
         FROM cells c
         JOIN best b ON b.doc_id = c.doc_id AND b.score_q = c.score_q
         GROUP BY 1, 2)
SELECT p.doc_id, p.pred, CAST(p.score_q AS BIGINT) AS score_q,
       d.lang AS truth, CAST(p.pred = d.lang AS INT) AS hit
FROM pred p JOIN documents d ON d.doc_id = p.doc_id""",
        # DSIR hashed-bigram importance weights (lm.py::dsir_weights):
        # md5-u32 feature buckets, integer log-ratio, one IEEE division
        "dsir_weights": f"""WITH {_SQL_BIGRAMS},
bgb AS (
  SELECT hh.doc_id, t.tgt, ({_MD5_U32}) % 4096 AS b
  FROM (SELECT doc_id, MD5(w1 || ' ' || w2) AS h FROM bg) hh
  JOIN (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS tgt
        FROM documents) t ON t.doc_id = hh.doc_id
),
buckets AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r_b,
                   CAST(SUM(tgt) AS BIGINT) AS t_b
            FROM bgb GROUP BY 1),
tots AS (SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
                CAST(SUM(t_b) AS BIGINT) AS t_tot FROM buckets),
pb AS (SELECT b, {_sql_lnq("t_b + 1")} - {_sql_lnq("r_b + 1")} AS lrq
       FROM buckets),
norm AS (SELECT {_sql_lnq("t_tot + 4096")}
                - {_sql_lnq("r_tot + 4096")} AS normq FROM tots),
db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS m
       FROM bgb GROUP BY 1, 2),
folded AS (SELECT db.doc_id, CAST(SUM(db.m) AS BIGINT) AS n_feats,
                  CAST(SUM(db.m * pb.lrq) AS BIGINT) AS num_q
           FROM db JOIN pb ON pb.b = db.b GROUP BY 1),
w AS (SELECT doc_id, n_feats,
             num_q - n_feats * (SELECT normq FROM norm) AS w_scaled
      FROM folded)
SELECT d.doc_id,
       COALESCE(w.n_feats, 0) AS n_feats,
       CAST(COALESCE(w.w_scaled, 0) AS BIGINT) AS w_scaled,
       CASE WHEN COALESCE(w.n_feats, 0) = 0 THEN 0.0
            ELSE CAST(w.w_scaled AS DOUBLE)
                 / CAST(w.n_feats * 1000000 AS DOUBLE) END AS avg_w,
       CAST(COALESCE(w.w_scaled, 0) > 0 AS INT) AS selected
FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""",
        # per-conversation profile (operators/convstats.py): LAG window +
        # groupBy over the same conv key; integer-exact chars/us/switches
        "conv_stats": (
            "WITH t AS (\n"
            "  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,\n"
            "         CAST(ROW_NUMBER() OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,\n"
            "         event_type AS role,\n"
            "         COALESCE(props, '') AS text,\n"
            "         EPOCH_US(ts) AS us\n"
            "  FROM events\n"
            "), s AS (\n"
            "  SELECT conv_id, turn_idx, role,\n"
            "         CAST(LENGTH(text) AS INT) AS chars, us,\n"
            "         LAG(role) OVER (PARTITION BY conv_id"
            " ORDER BY turn_idx) AS prev_role\n"
            "  FROM t\n"
            ")\n"
            "SELECT conv_id,\n"
            "  COUNT(*) AS n_turns,\n"
            "  COUNT(DISTINCT role) AS n_roles,\n"
            "  CAST(SUM(chars) AS BIGINT) AS total_chars,\n"
            "  MAX(chars) AS max_turn_chars,\n"
            "  ARG_MIN(role, turn_idx) AS first_role,\n"
            "  ARG_MAX(role, turn_idx) AS last_role,\n"
            "  COUNT(*) FILTER (WHERE prev_role IS NOT NULL"
            " AND role <> prev_role) AS n_switches,\n"
            "  MAX(us) - MIN(us) AS duration_us\n"
            "FROM s GROUP BY conv_id"
        ),
        "turns": "SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,\n"
        "  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,\n"
        "  event_type AS role, COALESCE(props, '') AS text\n"
        "FROM events",
        "activations": f"WITH {_SQL_TURNS},\n{_SQL_ACTS}\n"
        "SELECT conv_id, participant, act_turn FROM acts",
        "derive_edges": f"WITH {_SQL_EDGES}\n"
        "SELECT conv_id, src_turn, src_participant, dst_turn, dst_participant, orig_turn FROM edges",
        # stream==batch contract: the streaming path must reproduce the
        # batch derivation exactly, so its oracle IS the batch SQL
        "stream_edges": f"WITH {_SQL_EDGES}\n"
        "SELECT conv_id, src_turn, src_participant, dst_turn, dst_participant, orig_turn FROM edges",
        # stream==batch again: the streamed tumbling-window totals must
        # equal the batch GROUP BY (integer-cents accumulation)
        "stream_window": (
            "SELECT CAST(FLOOR(EPOCH(ts)/3600)*3600 AS BIGINT) AS window_start,\n"
            "       event_type,\n"
            "       COUNT(*) AS n_events,\n"
            "       CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents\n"
            "FROM events GROUP BY 1, 2"
        ),
        # exact percentiles: Spark `percentile` and DuckDB quantile_cont
        # share the linear-interpolation definition — no rounding needed
        # the contract is the Spark side's job: the oracle pins every
        # (key, pct) to within_bound = TRUE and the exact group sizes
        "quantiles_approx": (
            "SELECT event_type, pct, COUNT(value) AS n,\n"
            "       TRUE AS within_bound\n"
            "FROM events, (SELECT UNNEST(CAST([0.25, 0.5, 0.75, 0.9, 0.99]"
            " AS DOUBLE[])) AS pct) p\n"
            "GROUP BY event_type, pct"
        ),
        "quantiles": (
            "SELECT event_type, COUNT(*) AS n,\n"
            "  QUANTILE_CONT(value, 0.25) AS p25,\n"
            "  QUANTILE_CONT(value, 0.50) AS p50,\n"
            "  QUANTILE_CONT(value, 0.75) AS p75,\n"
            "  QUANTILE_CONT(value, 0.90) AS p90,\n"
            "  QUANTILE_CONT(value, 0.99) AS p99\n"
            "FROM events GROUP BY event_type"
        ),
        "top_influencers": f"WITH {_SQL_EDGES},\n"
        "deg AS (SELECT conv_id, src_turn, src_participant, COUNT(*) AS out_deg\n"
        "        FROM edges GROUP BY conv_id, src_turn, src_participant)\n"
        "SELECT rk, conv_id, src_turn, src_participant, out_deg FROM (\n"
        "  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY out_deg DESC, conv_id, src_turn) AS INT) AS rk FROM deg\n"
        ") WHERE rk <= 20",
        "pagerank": _sql_pagerank(),
        "pagerank_weighted": _sql_pagerank_weighted(),
        "bfs": _sql_bfs(),
        # cascade BFS computes the same conversation-local distances
        "bfs_cascade": _sql_bfs(),
        "hits": _sql_hits(),
        "ppr": _sql_ppr(),
        # common-neighbor link prediction, top-100 by the
        # integer-deterministic (common, jaccard4dp, a, b) key
        # (linkpred.py::top_predicted_links)
        "linkpred": f"""
WITH {_SQL_EVID},
adj AS (
  SELECT DISTINCT v, n FROM (
    SELECT src AS v, dst AS n FROM e UNION ALL SELECT dst AS v, src AS n FROM e
  ) WHERE v <> n
),
deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
zside AS (
  SELECT a.v AS z, a.n AS endpoint, 1.0 / LN(CAST(d.deg AS DOUBLE)) AS w
  FROM adj a JOIN deg d ON d.v = a.v
),
pairs AS (
  SELECT l.endpoint AS a, r.endpoint AS b, COUNT(*) AS common, SUM(l.w) AS aa
  FROM zside l JOIN zside r ON l.z = r.z AND l.endpoint < r.endpoint
  GROUP BY l.endpoint, r.endpoint
  HAVING COUNT(*) >= 2
),
newp AS (
  SELECT p.a, p.b, p.common, p.aa FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM adj x WHERE x.v = p.a AND x.n = p.b)
),
scored AS (
  SELECT a, b, CAST(common AS INT) AS common,
         FLOOR(CAST(common AS DOUBLE) / (da.deg + db.deg - common)
               * 10000.0 + 0.5) / 10000.0 AS jaccard,
         FLOOR(aa * 1000000.0 + 0.5) / 1000000.0 AS adamic_adar
  FROM newp JOIN deg da ON da.v = a JOIN deg db ON db.v = b
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY common DESC, jaccard DESC, a, b)
            AS INT) AS rk,
       a, b, common, jaccard, adamic_adar
FROM scored
ORDER BY rk
LIMIT 100""",
        "clustering": f"WITH {_SQL_EVID},\n"
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),\n"
        "nbrs AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),\n"
        "cdeg AS (SELECT a AS vid, COUNT(*) AS degree FROM nbrs GROUP BY a),\n"
        "tri AS (\n"
        "  SELECT ab.a AS x, ab.b AS y, bc.b AS z\n"
        "  FROM und ab JOIN und bc ON bc.a = ab.b JOIN und ac ON ac.a = ab.a AND ac.b = bc.b\n"
        "),\n"
        "cnt AS (\n"
        "  SELECT vid, COUNT(*) AS triangles FROM (\n"
        "    SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri\n"
        "  ) GROUP BY vid\n"
        ")\n"
        "SELECT d.vid, d.degree, COALESCE(c.triangles, 0) AS triangles,\n"
        "  FLOOR((CASE WHEN d.degree >= 2\n"
        "              THEN 2.0 * COALESCE(c.triangles, 0) / (d.degree * (d.degree - 1))\n"
        "              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS coeff\n"
        "FROM cdeg d LEFT JOIN cnt c ON c.vid = d.vid",
        "kcore": _sql_kcore(k=3, rounds=4),
        "ktruss": _sql_ktruss(k=4, rounds=2),
        # two-mode -> one-mode projection (project.py::coparticipation)
        "coparticipation": f"WITH {_SQL_TURNS},\n"
        "pc AS (SELECT DISTINCT conv_id, participant FROM turns)\n"
        "SELECT l.participant AS a, r.participant AS b, COUNT(*) AS n_convs\n"
        "FROM pc l JOIN pc r ON l.conv_id = r.conv_id\n"
        "  AND l.participant < r.participant\n"
        "GROUP BY 1, 2",
        # assortativity from exact BIGINT moments — float only in the
        # final divisions, so no cross-engine summation-order drift
        "graph_summary": f"""WITH {_SQL_EVID},
u0 AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       FROM e WHERE src <> dst GROUP BY 1, 2),
b0 AS (SELECT u, v FROM u0 UNION ALL SELECT v AS u, u AS v FROM u0),
dg AS (SELECT u, COUNT(*) AS d FROM b0 GROUP BY u),
pr AS (SELECT x.d AS dx, y.d AS dy
       FROM b0 b JOIN dg x ON x.u = b.u JOIN dg y ON y.u = b.v),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS M,
              CAST(SUM(dx) AS BIGINT) AS sx,
              CAST(SUM(dx * dx) AS BIGINT) AS sxx,
              CAST(SUM(dx * dy) AS BIGINT) AS sxy,
              MAX(dx) AS max_deg
       FROM pr),
nv AS (SELECT COUNT(*) AS n_vertices FROM dg)
SELECT n_vertices,
       CAST(M // 2 AS BIGINT) AS n_edges,
       CAST(max_deg AS INT) AS max_deg,
       FLOOR(CAST(M AS DOUBLE) / (CAST(n_vertices AS DOUBLE) * CAST(n_vertices - 1 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS density,
       FLOOR(CAST(M AS DOUBLE) / CAST(n_vertices AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_deg,
       FLOOR(CAST(M * sxy - sx * sx AS DOUBLE) / CAST(M * sxx - sx * sx AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS assortativity
FROM mm, nv""",
        "degree_hist": f"WITH {_SQL_EVID},\n"
        "verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),\n"
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)\n"
        "SELECT COALESCE(deg.d, 0) AS out_deg, COUNT(*) AS n_vertices\n"
        "FROM verts v LEFT JOIN deg ON deg.src = v.vid GROUP BY 1",
        "ngram_topk": """
WITH ntext AS (
  SELECT TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
tk AS (
  SELECT CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
  FROM ntext
),
grams AS (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 1),
                               i -> ARRAY_TO_STRING(tk[i + 1 : i + 2], ' '))) AS gram
  FROM tk WHERE LEN(tk) >= 2
),
agg AS (SELECT gram, COUNT(*) AS n_occurrences FROM grams GROUP BY gram)
SELECT rk, gram, n_occurrences FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, gram) AS INT) AS rk
  FROM agg
) WHERE rk <= 50""",
        # smoothed TF-IDF (tf · (ln((N+1)/(df+1)) + 1)); ties in the raw
        # score imply equal (tf, df), so the term tie-break is exact
        # unigram entropy: per-term logs quantized to BIGINT micro-nats
        # (SUM is exact integer, association-order-free); the final
        # division is one IEEE op on identical integers => bit-identical
        "entropy": f"""WITH {_SQL_SHINGLES},
tok AS (SELECT doc_id, UNNEST(tk) AS term FROM tk WHERE LEN(tk) > 0),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
folded AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS clnc
  FROM tf GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_tokens, n_distinct,
         n_tokens * CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE)) * 1000000
                               + 0.5) AS BIGINT) - clnc AS h_scaled
  FROM folded
)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.n_distinct, 0) AS n_distinct,
       COALESCE(s.h_scaled, 0) AS h_scaled,
       COALESCE(CAST(s.h_scaled AS DOUBLE)
                / CAST(s.n_tokens * 1000000 AS DOUBLE), 0.0) AS entropy
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
        "tfidf": f"""WITH {_SQL_SHINGLES},
tok AS (SELECT doc_id, UNNEST(tk) AS term FROM tk WHERE LEN(tk) > 0),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * (LN(CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) + 1) AS raw
  FROM tf t JOIN dfx d ON d.term = t.term, nd n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, CAST(tf AS INT) AS tf,
       CAST(df AS INT) AS df, FLOOR(raw * 1000000.0 + 0.5) / 1000000.0 AS tfidf
FROM ranked WHERE rk <= 5""",
        # directed actor-succession graph: LEAD over the per-channel
        # deterministic order, pairs kept at weight >= 3
        "succession": f"WITH {_SQL_SUCCESSION}\n"
        "SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM g",
        # δ-temporal motif census: interactions = per-channel successions
        # stamped at the LATER event's EPOCH_US; pair/triple equi-joins on
        # the shared vertex with the strict (t1 < t2 < t3, span <= δ)
        # residual — counts are exact BIGINTs, identical join semantics
        "motifs": f"""WITH inter AS MATERIALIZED (
  SELECT src, dst, us FROM (
    SELECT user_id AS src,
           LEAD(user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS dst,
           LEAD(EPOCH_US(ts)) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS us
    FROM events) s
  WHERE dst IS NOT NULL AND src <> dst),
duo AS (
  SELECT COUNT(*) FILTER (WHERE y.dst = x.src) AS n_pingpong,
         COUNT(*) FILTER (WHERE y.dst <> x.src) AS n_2path
  FROM inter x JOIN inter y
    ON y.src = x.dst AND y.us > x.us
   AND y.us <= x.us + {MOTIF_DELTA_US}),
tri AS (
  SELECT COUNT(*) AS n_triangle
  FROM inter x
  JOIN inter y ON y.src = x.dst AND y.us > x.us
              AND y.us <= x.us + {MOTIF_DELTA_US} AND y.dst <> x.src
  JOIN inter z ON z.src = y.dst AND z.dst = x.src AND z.us > y.us
              AND z.us <= x.us + {MOTIF_DELTA_US}),
n AS (SELECT COUNT(*) AS n_events FROM inter)
SELECT CAST({MOTIF_DELTA_US} AS BIGINT) AS delta_us,
       n_events, n_pingpong, n_2path, n_triangle
FROM n, duo, tri""",
        # Holland-Leinhardt triad census on the weight>=2 succession
        # graph: dyad codes -> shared-vertex dyad-pair join -> the SAME
        # 64-state table (inlined as a list literal); disconnected
        # classes by the integer identities, 003 by complement
        "triads": f"""WITH g AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT user_id AS src,
             LEAD(user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS dst
      FROM events) s
    WHERE dst IS NOT NULL AND src <> dst
    GROUP BY src, dst HAVING COUNT(*) >= 2)),
dy AS MATERIALIZED (
  SELECT lo, hi, CASE WHEN f = 1 AND r = 1 THEN 3
                      WHEN f = 1 THEN 1 ELSE 2 END AS code
  FROM (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
               MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) AS f,
               MAX(CASE WHEN src > dst THEN 1 ELSE 0 END) AS r
        FROM g GROUP BY 1, 2)),
half AS (SELECT lo AS v, hi AS o FROM dy
         UNION ALL SELECT hi, lo FROM dy),
tri AS MATERIALIZED (
  SELECT DISTINCT t[1] AS i, t[2] AS j, t[3] AS k FROM (
    SELECT LIST_SORT([p.v, p.o, q.o]) AS t
    FROM half p JOIN half q ON p.v = q.v AND p.o < q.o)),
coded AS MATERIALIZED (
  SELECT COALESCE(d1.code, 0) * 16 + COALESCE(d2.code, 0) * 4
         + COALESCE(d3.code, 0) AS state
  FROM tri t
  LEFT JOIN dy d1 ON d1.lo = t.i AND d1.hi = t.j
  LEFT JOIN dy d2 ON d2.lo = t.i AND d2.hi = t.k
  LEFT JOIN dy d3 ON d3.lo = t.j AND d3.hi = t.k),
conn AS (SELECT ({_TRIAD_STATES_SQL})[state + 1] AS tclass,
                COUNT(*) AS n_conn
         FROM coded GROUP BY 1),
scal AS (
  SELECT
    (SELECT COUNT(*) FROM
      (SELECT src AS u FROM g UNION SELECT dst FROM g)) AS n,
    (SELECT COUNT(*) FROM dy WHERE code = 3) AS mm,
    (SELECT COUNT(*) FROM dy WHERE code <> 3) AS aa,
    (SELECT COUNT(*) FROM coded) AS ct,
    (SELECT COALESCE(SUM(CASE WHEN state % 4 = 3 THEN 1 ELSE 0 END
           + CASE WHEN state // 4 % 4 = 3 THEN 1 ELSE 0 END
           + CASE WHEN state // 16 % 4 = 3 THEN 1 ELSE 0 END), 0)
     FROM coded) AS summ,
    (SELECT COALESCE(SUM(CASE WHEN state % 4 IN (1, 2) THEN 1 ELSE 0 END
           + CASE WHEN state // 4 % 4 IN (1, 2) THEN 1 ELSE 0 END
           + CASE WHEN state // 16 % 4 IN (1, 2) THEN 1 ELSE 0 END), 0)
     FROM coded) AS suma),
disc AS (
  SELECT '102' AS tclass, mm * (n - 2) - summ AS n_disc FROM scal
  UNION ALL SELECT '012', aa * (n - 2) - suma FROM scal
  UNION ALL SELECT '003', n * (n - 1) * (n - 2) // 6 - ct
            - (mm * (n - 2) - summ) - (aa * (n - 2) - suma) FROM scal),
spine AS (SELECT UNNEST({_TRIAD_NAMES_SQL}) AS tclass)
SELECT s.tclass,
       CAST(COALESCE(c.n_conn, d.n_disc, 0) AS BIGINT) AS n_triads
FROM spine s
LEFT JOIN conn c ON c.tclass = s.tclass
LEFT JOIN disc d ON d.tclass = s.tclass""",
        # CUSUM chart: identical window algebra, S0 included via the
        # LEAST(0, ...) clamp (Page recursion starts at C_0 = 0)
        "cusum": _SQL_CUSUM,
        # streamed carry fold == the batch chart: same oracle verbatim
        "stream_cusum": _SQL_CUSUM,
        # Gonzalez k-center: 8 unrolled greedy rounds, integer argmax
        "kcenter": _sql_kcenter(8),
        # winsorized stats: rank-based clamp cutoffs, integer clamped sum
        "winsorize": """
WITH b AS (SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
r AS (SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b),
c AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN rn > (n * 5) // 100 THEN v END) AS lo,
             MAX(CASE WHEN rn <= n - (n * 5) // 100 THEN v END) AS hi
      FROM r GROUP BY event_type)
SELECT b.event_type, c.n, c.lo, c.hi,
       CAST(SUM(GREATEST(c.lo, LEAST(c.hi, b.v))) AS BIGINT) AS wsum,
       CAST(SUM(GREATEST(c.lo, LEAST(c.hi, b.v))) AS DOUBLE) / c.n AS wmean
FROM b JOIN c ON c.event_type = b.event_type
GROUP BY b.event_type, c.n, c.lo, c.hi""",
        # Theil-Sen: pairwise integer-division slopes, medians as order
        # statistics, AVG of at most two identical doubles
        "theil_sen": """
WITH daily AS MATERIALIZED (
  SELECT event_type, EPOCH_US(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
pr AS (SELECT a.event_type,
              CAST(b.x - a.x AS DOUBLE)
              / CAST(b.day - a.day AS DOUBLE) AS slope
       FROM daily a JOIN daily b
         ON b.event_type = a.event_type AND b.day > a.day),
rs AS (SELECT event_type, slope,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n
       FROM pr),
ms AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
              AVG(slope) AS slope
       FROM rs WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
       GROUP BY event_type),
resid AS (SELECT d.event_type,
                 CAST(d.x AS DOUBLE) - m.slope * CAST(d.day AS DOUBLE) AS resid
          FROM daily d JOIN ms m ON m.event_type = d.event_type),
rr AS (SELECT event_type, resid,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY resid) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n
       FROM resid),
mi AS (SELECT event_type, AVG(resid) AS intercept
       FROM rr WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
       GROUP BY event_type)
SELECT m.event_type, m.n_pairs, m.slope, mi.intercept
FROM ms m JOIN mi ON mi.event_type = m.event_type""",
        # classical decomposition: integer moments, 1-2 IEEE ops at the end
        "seasonal": """
WITH daily AS MATERIALIZED (
  SELECT event_type, EPOCH_US(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type, day, x,
         COUNT(*) OVER fr AS n,
         CAST(SUM(x) OVER fr AS BIGINT) AS tt
  FROM daily
  WINDOW fr AS (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
t2 AS (SELECT event_type, day, x,
              CASE WHEN n = 7 THEN tt END AS tt,
              CASE WHEN n = 7 THEN 7 * x - tt END AS d
       FROM t),
seas AS (SELECT event_type, day % 7 AS phase,
                CAST(SUM(d) AS BIGINT) AS sn, COUNT(*) AS m
         FROM t2 WHERE tt IS NOT NULL GROUP BY 1, 2)
SELECT t2.event_type, t2.day, t2.x,
       CAST(t2.tt AS DOUBLE) / 7 AS trend,
       CASE WHEN t2.tt IS NOT NULL
            THEN CAST(s.sn AS DOUBLE) / (7 * s.m) END AS seasonal,
       CASE WHEN t2.tt IS NOT NULL
            THEN CAST(t2.d AS DOUBLE) / 7
                 - CAST(s.sn AS DOUBLE) / (7 * s.m) END AS residual
FROM t2 LEFT JOIN seas s
  ON s.event_type = t2.event_type AND s.phase = t2.day % 7""",
        # parent forest (one parent per vertex) => the recursive ascent
        # is duplicate-free; ARG_MAX(anc, d) = the chain's top = root
        "hierarchy": _SQL_HIERARCHY,
        # per-edge wedge enumeration == the engine's oriented wedge join
        "edge_jaccard": f"WITH {_SQL_EJ_BODY}\nSELECT * FROM ej",
        # OR-of-top-2 rule over both endpoint rankings, then semi filter
        "sparsify": f"""WITH {_SQL_EJ_BODY},
half AS (SELECT u AS x, v AS y, common, jaccard FROM ej
         UNION ALL SELECT v, u, common, jaccard FROM ej),
kept AS (
  SELECT DISTINCT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM (
    SELECT x, y, ROW_NUMBER() OVER (
      PARTITION BY x ORDER BY jaccard DESC, common DESC, y) AS rk
    FROM half) WHERE rk <= 2)
SELECT e.* FROM ej e JOIN kept k ON k.u = e.u AND k.v = e.v""",
        # rich-club curve: suffix sums of the two survival histograms
        # over the distinct-degree spine (threshold STRICTLY > k), same
        # integer-scaled floor-round as the engine
        "richclub": """
WITH g AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT user_id AS src,
             LEAD(user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS dst
      FROM events) s
    WHERE dst IS NOT NULL AND src <> dst
    GROUP BY src, dst HAVING COUNT(*) >= 2)),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM g WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u FROM und UNION ALL SELECT v AS u FROM und) GROUP BY u),
vhist AS (SELECT deg, COUNT(*) AS nv FROM deg GROUP BY deg),
em AS (
  SELECT LEAST(du.deg, dv.deg) AS m, COUNT(*) AS ne
  FROM und JOIN deg du ON du.u = und.u JOIN deg dv ON dv.u = und.v
  GROUP BY 1),
base AS (
  SELECT s.deg AS k,
         CAST(COALESCE((SELECT SUM(nv) FROM vhist WHERE deg > s.deg), 0)
              AS BIGINT) AS n_rich,
         CAST(COALESCE((SELECT SUM(ne) FROM em WHERE m > s.deg), 0)
              AS BIGINT) AS e_rich
  FROM vhist s)
SELECT k, n_rich, e_rich,
       CASE WHEN n_rich >= 2 THEN
         FLOOR(2000000 * e_rich / (n_rich * (n_rich - 1)) + 0.5)
           / 1000000.0
       END AS phi
FROM base""",
        # full core decomposition: 18 unrolled h-index rounds
        "coreness": _sql_coreness(rounds=18),
        # sequential-pattern census: exact (ts,event_id)-ordered code
        # string per user, RE2-subset regex counted non-overlapping
        "seqmatch": _SQL_SEQMATCH,
        # stream==batch contract: streamed multiset state drains to
        # the identical census, so the oracle IS the batch SQL
        "stream_seqmatch": _SQL_SEQMATCH,
        # SCC label = min over the mutual-reachability closure: reach is
        # a recursive CTE (set-semantics UNION terminates on cycles);
        # u ~ v iff reach(u,v) AND reach(v,u). MATERIALIZED: the CLAUDE.md
        # CTE rule — g/verts are referenced repeatedly by the recursion.
        "scc": f"""WITH RECURSIVE {_SQL_SUCCESSION},
verts AS MATERIALIZED (SELECT src AS v FROM g UNION SELECT dst FROM g),
reach AS (
  SELECT src AS a, dst AS b FROM g
  UNION
  SELECT r.a, g.dst AS b FROM reach r JOIN g ON g.src = r.b
),
mutual AS (
  SELECT r1.a, r1.b
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT v.v AS vid,
       CAST(LEAST(v.v, COALESCE(MIN(m.b), v.v)) AS BIGINT) AS scc
FROM verts v LEFT JOIN mutual m ON m.a = v.v
GROUP BY v.v""",
        # directed mixing: exact BIGINT moments (HUGEINT sums cast
        # back), float division/sqrt LAST on identical operands;
        # NULLIF = the engine's zero-variance NULL
        "graph_mixing": f"""WITH {_SQL_SUCCESSION},
e AS MATERIALIZED (SELECT src, dst FROM g),
p AS (
  SELECT e.src, e.dst,
         CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS m
  FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
),
dx AS (SELECT src, COUNT(*) AS dx FROM e GROUP BY src),
dy AS (SELECT dst, COUNT(*) AS dy FROM e GROUP BY dst),
j AS (SELECT p.m, dx.dx, dy.dy FROM p
      JOIN dx ON dx.src = p.src JOIN dy ON dy.dst = p.dst),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS M, CAST(SUM(m) AS BIGINT) AS mu,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM j
)
SELECT M AS n_edges, mu AS n_mutual,
       FLOOR(CAST(mu AS DOUBLE) / CAST(M AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS reciprocity,
       FLOOR(CAST(M * sxy - sx * sy AS DOUBLE)
             / NULLIF(SQRT(CAST(M * sxx - sx * sx AS DOUBLE)
                           * CAST(M * syy - sy * sy AS DOUBLE)), 0)
             * 1000000 + 0.5) / 1000000 AS assortativity
FROM a""",
        # modularity of the vid % 8 partition: exact rational
        # Q*4M^2 = 4M*intra - sum(d_c^2), one float division last
        "modularity": f"""WITH {_SQL_SUCCESSION},
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM g WHERE src <> dst
),
t AS (SELECT u, v, u % 8 AS cu, v % 8 AS cv FROM und),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS M,
         CAST(SUM(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS BIGINT) AS intra
  FROM t
),
d AS (SELECT c, COUNT(*) AS d FROM (
        SELECT cu AS c FROM t UNION ALL SELECT cv FROM t) GROUP BY c),
s AS (SELECT CAST(SUM(d * d) AS BIGINT) AS sum_dc2 FROM d)
SELECT M AS m_edges, intra AS intra_edges,
       CAST(4 * M * intra - sum_dc2 AS BIGINT) AS q_num,
       CAST(4 * M * M AS BIGINT) AS q_den,
       FLOOR(CAST(4 * M * intra - sum_dc2 AS DOUBLE)
             / CAST(4 * M * M AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS modularity
FROM tot, s""",
        # stratified sampling oracle: the NAIVE per-stratum full sort
        # by (md5-60bit, key) — the engine's two-level bucket split
        # must agree row for row
        "stratified_sample": f"""
WITH hx AS (
  SELECT doc_id, source, MD5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(({_hex15_num('h')}) AS BIGINT), doc_id) AS rk
  FROM hx
)
SELECT doc_id, source FROM ranked WHERE rk <= 10""",
        # temporal earliest arrival: recursive closure over (vid, t)
        # states — an edge extends a state only at-or-after its time;
        # earlier arrival dominates, so MIN per vid at the end equals
        # the engine's |V|-row min-arrival fixpoint. Seeds released at
        # their own first event time; edges = first-day successions.
        "temporal_reach": _SQL_TEMPORAL_REACH,
        # stream==batch: the streamed epoch-wise fixpoint must equal
        # the batch recursive-closure oracle verbatim
        "stream_temporal": _SQL_TEMPORAL_REACH,
        "components": f"WITH {_SQL_EVID},\n"
        "verts AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e))\n"
        "SELECT vid, MIN(vid) OVER (PARTITION BY vid // 100000) AS component FROM verts",
        "labelprop": _sql_labelprop(),
        # exact per-component diameter: all-pairs recursive BFS (gate
        # scale: conversations are shallow, cap 30 hops) + max ecc per
        # recursive-min-label component
        "diameter": f"""WITH RECURSIVE {_SQL_EVID},
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
verts AS MATERIALIZED (SELECT DISTINCT a AS vid FROM adj),
lab AS (
  SELECT vid, vid AS lab FROM verts
  UNION
  SELECT a.b AS vid, l.lab FROM lab l JOIN adj a ON a.a = l.vid),
comp AS MATERIALIZED (SELECT vid, MIN(lab) AS comp FROM lab GROUP BY vid),
r AS (
  SELECT vid AS src, vid AS dst, 0 AS d FROM verts
  UNION
  SELECT r.src, a.b, r.d + 1 FROM r JOIN adj a ON a.a = r.dst
  WHERE r.d < 30),
dist AS MATERIALIZED (SELECT src, dst, MIN(d) AS d FROM r GROUP BY 1, 2),
ecc AS MATERIALIZED (SELECT src, MAX(d) AS e FROM dist GROUP BY src)
SELECT c.comp, CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(MAX(ecc.e) AS BIGINT) AS diameter
FROM ecc JOIN comp c ON c.vid = ecc.src
GROUP BY c.comp""",
        # rotating-priority IS Louvain moves, 2 rounds unrolled
        "louvain": _sql_louvain(),
        # Louvain moves + Traag connectivity refinement: recursive
        # min-label components of the intra-community subgraph
        "leiden": _sql_louvain().replace(
            "\nSELECT vid, CAST(comm AS BIGINT) AS comm FROM lc2",
            """,
iadj AS MATERIALIZED (
  SELECT l.u AS a, l.v AS b FROM lund l
  JOIN lc2 s1 ON s1.vid = l.u JOIN lc2 s2 ON s2.vid = l.v
  WHERE s1.comm = s2.comm
  UNION ALL
  SELECT l.v, l.u FROM lund l
  JOIN lc2 s1 ON s1.vid = l.u JOIN lc2 s2 ON s2.vid = l.v
  WHERE s1.comm = s2.comm),
rlab AS (
  SELECT vid, vid AS lab FROM lvx
  UNION
  SELECT i.b AS vid, l.lab FROM rlab l JOIN iadj i ON i.a = l.vid)
SELECT vid, CAST(MIN(lab) AS BIGINT) AS comm FROM rlab GROUP BY vid""",
        ).replace("WITH ", "WITH RECURSIVE ", 1),
        # weighted Louvain moves + Blondel phase-2 contraction
        "louvain_coarse": _sql_louvain_coarse(),
        "triangles": f"WITH {_SQL_EVID},\n"
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),\n"
        "tri AS (\n"
        "  SELECT ab.a AS x, ab.b AS y, bc.b AS z\n"
        "  FROM und ab JOIN und bc ON bc.a = ab.b JOIN und ac ON ac.a = ab.a AND ac.b = bc.b\n"
        "),\n"
        "cnt AS (\n"
        "  SELECT vid, COUNT(*) AS triangles FROM (\n"
        "    SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri\n"
        "  ) GROUP BY vid\n"
        "),\n"
        "allv AS (SELECT DISTINCT a AS vid FROM und UNION SELECT b FROM und)\n"
        "SELECT allv.vid, COALESCE(cnt.triangles, 0) AS triangles\n"
        "FROM allv LEFT JOIN cnt ON cnt.vid = allv.vid",
        "exact_dedup": "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes\n"
        "FROM (SELECT doc_id, MD5(text) AS h FROM documents) GROUP BY h",
        # stream==batch: the streamed state-store dedup must equal it
        "stream_dedup": "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes\n"
        "FROM (SELECT doc_id, MD5(text) AS h FROM documents) GROUP BY h",
        # range join: the oracle uses the NAIVE between-join — the
        # banded encoding must reproduce it exactly
        "range_join": """
WITH seq AS (
  SELECT user_id, event_id, ts, EPOCH_US(ts) AS us,
         LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM seq
),
sess AS (
  SELECT user_id, event_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
),
bounds AS (SELECT user_id, session_id, MIN(us) AS s_start, MAX(us) AS s_end
           FROM sess GROUP BY user_id, session_id)
SELECT p.event_id, p.user_id, CAST(b.session_id AS BIGINT) AS session_id
FROM sess p JOIN bounds b
  ON b.user_id = p.user_id AND p.us BETWEEN b.s_start AND b.s_end""",
        # as-of join, the same union+window encoding
        "asof": """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts, CAST(EPOCH_US(ts) AS BIGINT) AS pts, value
      FROM events WHERE event_type = 'purchase'),
u AS (
  SELECT event_id, user_id, ts, 1 AS side,
         CAST(NULL AS BIGINT) AS r_pts, CAST(NULL AS DOUBLE) AS r_value
  FROM l
  UNION ALL
  SELECT CAST(NULL AS BIGINT), user_id, ts, 0, pts, value FROM r
),
w AS (
  SELECT event_id, user_id, ts, side,
         LAST_VALUE(r_pts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side, r_pts, r_value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts_us,
         LAST_VALUE(r_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side, r_pts, r_value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
  FROM u
)
SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us,
       purchase_ts_us, purchase_value
FROM w WHERE side = 1""",
        "fingerprint": "SELECT doc_id,\n"
        "  MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp\n"
        "FROM documents",
        "token_stats": """
WITH tk AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(TRIM(text), '\\s+') END AS toks
  FROM documents
),
ex AS (SELECT doc_id, UNNEST(toks) AS tok FROM tk WHERE LEN(toks) > 0),
st AS (
  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT tok) AS nd, SUM(LENGTH(tok)) AS totlen
  FROM ex GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(COALESCE(st.n, 0) AS INT) AS n_tokens,
       CAST(LENGTH(tk.text) AS INT) AS n_chars,
       CAST(COALESCE(st.nd, 0) AS INT) AS n_distinct_tokens,
       FLOOR((CASE WHEN COALESCE(st.n, 0) = 0 THEN 0.0
                  ELSE CAST(st.totlen AS DOUBLE) / st.n END) * 10000.0 + 0.5) / 10000.0 AS avg_token_len
FROM tk LEFT JOIN st ON st.doc_id = tk.doc_id""",
        "quality": """
WITH tk AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(TRIM(text), '\\s+') END AS toks
  FROM documents
),
ex AS (SELECT doc_id, UNNEST(toks) AS tok FROM tk WHERE LEN(toks) > 0),
st AS (
  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT tok) AS nd,
         COUNT(DISTINCT tok) FILTER (WHERE tok IN ('the','and','of','to','is','in','that','it')) AS stop
  FROM ex GROUP BY doc_id
),
q AS (
  SELECT tk.doc_id,
         COALESCE(st.n, 0) AS n_tok,
         GREATEST(LENGTH(tk.text), 1) AS n_chars,
         LENGTH(tk.text) - LENGTH(REGEXP_REPLACE(tk.text, '[.,!?;:]', '', 'g')) AS punct,
         CASE WHEN COALESCE(st.n, 0) = 0 THEN 0.0 ELSE CAST(st.nd AS DOUBLE) / st.n END AS ttr,
         COALESCE(st.stop, 0) AS stop
  FROM tk LEFT JOIN st ON st.doc_id = tk.doc_id
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       FLOOR((0.4 * LEAST(1.0, CAST(n_tok AS DOUBLE) / 50)
             + 0.3 * ttr
             + 0.2 * (1.0 - CAST(punct AS DOUBLE) / n_chars)
             + 0.1 * (CASE WHEN stop > 0 THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS quality
FROM q""",
        "lang_id": """
WITH tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(LOWER(text))) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') END AS toks
  FROM documents
),
ex AS (SELECT doc_id, UNNEST(toks) AS tok FROM tk WHERE LEN(toks) > 0),
h AS (
  SELECT doc_id,
    COUNT(DISTINCT tok) FILTER (WHERE tok IN ('the','and','of','to','is','in','that','it')) AS h_en,
    COUNT(DISTINCT tok) FILTER (WHERE tok IN ('el','la','de','que','los','en','un','por')) AS h_es,
    COUNT(DISTINCT tok) FILTER (WHERE tok IN ('le','la','les','des','et','une','est','dans')) AS h_fr,
    COUNT(DISTINCT tok) FILTER (WHERE tok IN ('der','die','und','das','ist','nicht','ein','mit')) AS h_de
  FROM ex GROUP BY doc_id
)
SELECT tk.doc_id,
  CASE WHEN COALESCE(GREATEST(h_en, h_es, h_fr, h_de), 0) = 0 THEN 'und'
       WHEN h_en = GREATEST(h_en, h_es, h_fr, h_de) THEN 'en'
       WHEN h_es = GREATEST(h_en, h_es, h_fr, h_de) THEN 'es'
       WHEN h_fr = GREATEST(h_en, h_es, h_fr, h_de) THEN 'fr'
       ELSE 'de' END AS pred_lang
FROM tk LEFT JOIN h ON h.doc_id = tk.doc_id""",
        "bpe_tokens": "SELECT doc_id,\n"
        "  CAST(LEN(REGEXP_EXTRACT_ALL(text,\n"
        "    '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS INT)\n"
        "  AS n_bpe_tokens\n"
        "FROM documents",
        "winnow": """
WITH ntext AS (
  SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
  FROM ntext
),
grams AS (
  SELECT doc_id,
         LIST_TRANSFORM(RANGE(GREATEST(LEN(tk) - 5, 0) + 1),
                        i -> MD5(ARRAY_TO_STRING(tk[i + 1 : i + 5], ' '))) AS gh
  FROM tk WHERE LEN(tk) > 0
)
SELECT DISTINCT doc_id,
       UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(gh) - 4, 0) + 1),
                             j -> LIST_AGGREGATE(gh[j + 1 : j + 4], 'min'))) AS fp
FROM grams""",
        "minhash": f"WITH {_SQL_MINHASH}\n"
        "SELECT doc_id, sig_0, sig_1, sig_2, sig_3 FROM sig",
        "lsh_pairs": f"WITH {_SQL_MINHASH},\n"
        "bands AS (\n"
        "  SELECT doc_id, 0 AS band, sig_0 || '|' || sig_1 AS key FROM sig\n"
        "  UNION ALL\n"
        "  SELECT doc_id, 1 AS band, sig_2 || '|' || sig_3 AS key FROM sig\n"
        ")\n"
        "SELECT DISTINCT l.doc_id AS a, r.doc_id AS b\n"
        "FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key\n"
        "WHERE l.doc_id < r.doc_id",
        "jaccard": f"WITH {_SQL_SHINGLES},\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (\n"
        "  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter\n"
        "  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id\n"
        "  GROUP BY x.doc_id, y.doc_id\n"
        ")\n"
        "SELECT a, b, CAST(inter AS INT) AS inter,\n"
        "       CAST(sa.n + sb.n - inter AS INT) AS uni\n"
        "FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b\n"
        "WHERE inter > 0.6 * (sa.n + sb.n - inter)",
        "multimodal_features": f"""
WITH m AS (
  SELECT doc_id AS media_id, MD5(CAST(doc_id AS VARCHAR)) AS h,
         STRLEN(text) AS n_bytes
  FROM documents
),
u AS (SELECT media_id, n_bytes, CAST({_MD5_U32} AS BIGINT) AS u32 FROM m)
SELECT media_id,
       CASE u32 % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM u""",
        # full near-dup pipeline: LSH bands -> candidate pairs -> exact
        # jaccard verification -> drop the larger id of each verified
        # pair; survivors remain.
        "minhash_dedup": f"WITH {_SQL_MINHASH},\n"
        "bands AS (\n"
        "  SELECT doc_id, 0 AS band, sig_0 || '|' || sig_1 AS key FROM sig\n"
        "  UNION ALL\n"
        "  SELECT doc_id, 1 AS band, sig_2 || '|' || sig_3 AS key FROM sig\n"
        "),\n"
        "cand AS (\n"
        "  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b\n"
        "  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key\n"
        "  WHERE l.doc_id < r.doc_id\n"
        "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (\n"
        "  SELECT c.a, c.b, COUNT(*) AS i\n"
        "  FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y\n"
        "    ON y.doc_id = c.b AND y.s = x.s\n"
        "  GROUP BY c.a, c.b\n"
        "),\n"
        "losers AS (\n"
        "  SELECT DISTINCT b AS doc_id FROM inter\n"
        "  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b\n"
        "  WHERE i > 0.6 * (sa.n + sb.n - i)\n"
        ")\n"
        "SELECT doc_id FROM documents\n"
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)",
        # deterministic hash sampling (md5-u32, same bytes both engines)
        "doc_sample": f"""
WITH m AS (SELECT doc_id, MD5('s0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
SELECT doc_id FROM m WHERE ({_MD5_U32}) % 100 < 10""",
        "stratified": f"""
WITH m AS (SELECT event_id, event_type,
                  MD5('s0:' || CAST(event_id AS VARCHAR)) AS h FROM events),
r AS (SELECT event_id, event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY ({_MD5_U32}), event_id) AS INT) AS rk
      FROM m)
SELECT event_id, event_type, rk FROM r WHERE rk <= 50""",
        # temporal novelty: first-occurrence (MIN doc_id) per shingle,
        # per-doc fold, one IEEE division of exact counts
        "novelty": f"""WITH {_SQL_SHINGLES},
first AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s),
per AS (SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM sh JOIN first f ON f.s = sh.s GROUP BY sh.doc_id)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_novel, 0) AS n_novel,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(p.n_novel AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
            ELSE 0.0 END AS novelty
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""",
        # priority sampling: pri = (w·2^32)/(h+1), one IEEE division of
        # exact integers; tau = the (n+1)-th priority; est = max(w, tau)
        "weighted_sample": f"""
WITH m AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
                  MD5('s0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
p AS (SELECT lang, doc_id, w,
             CAST(w * 4294967296 AS DOUBLE)
             / CAST(({_MD5_U32}) + 1 AS DOUBLE) AS priority
      FROM m),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY priority DESC, doc_id) AS INT) AS rk
      FROM p),
tau AS (SELECT lang, MAX(priority) AS tau FROM r WHERE rk = 41 GROUP BY lang)
SELECT r.lang, r.doc_id, r.w, r.rk, r.priority,
       GREATEST(CAST(r.w AS DOUBLE), COALESCE(t.tau, 0.0)) AS est
FROM r LEFT JOIN tau t ON t.lang = r.lang
WHERE r.rk <= 40""",
        # benchmark decontamination: word-4-gram collision against the
        # 10% hash-sample benchmark set (curation.py::decontaminate)
        "decontaminate": f"""
WITH ntext AS (
  SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
  FROM ntext
),
grams AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 3),
                               i -> MD5(ARRAY_TO_STRING(tk[i + 1 : i + 4], ' ')))) AS g
  FROM tk WHERE LEN(tk) >= 4
),
m AS (SELECT doc_id, MD5('s0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
bench AS (SELECT doc_id FROM m WHERE ({_MD5_U32}) % 100 < 10),
bg AS (SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM bench)),
train AS (SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM bench)),
hit AS (SELECT DISTINCT doc_id FROM grams
        WHERE doc_id NOT IN (SELECT doc_id FROM bench)
          AND g IN (SELECT g FROM bg))
SELECT t.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM train t LEFT JOIN hit h ON h.doc_id = t.doc_id""",
        # cross-document boilerplate segment removal
        # (curation.py::remove_boilerplate, seg_words=4, min_docs=2);
        # RANGE(256) is a safe constant bound on segments/doc (DuckDB
        # 1.0 cannot lateral-join RANGE on a column) — max text is
        # ~550 chars => far fewer than 256 four-token segments
        "boilerplate": """
WITH tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')
         END AS toks
  FROM documents
),
sg AS (
  SELECT doc_id,
         CASE WHEN LEN(toks) = 0 THEN CAST([] AS VARCHAR[])
              ELSE LIST_TRANSFORM(RANGE((LEN(toks) - 1) // 4 + 1),
                     i -> ARRAY_TO_STRING(toks[i * 4 + 1 : i * 4 + 4], ' '))
         END AS segs
  FROM tk
),
ex AS (
  SELECT doc_id, r.i AS pos, segs[r.i + 1] AS seg
  FROM sg, RANGE(256) r(i) WHERE r.i < LEN(segs)
),
boiler AS (SELECT seg FROM ex GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (SELECT ex.* FROM ex WHERE seg NOT IN (SELECT seg FROM boiler)),
re AS (
  SELECT doc_id, STRING_AGG(seg, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT sg.doc_id, COALESCE(re.clean, '') AS clean_text,
       CAST(LEN(sg.segs) AS INT) AS n_segs,
       CAST(LEN(sg.segs) - COALESCE(re.n_kept, 0) AS INT) AS n_removed
FROM sg LEFT JOIN re ON re.doc_id = sg.doc_id""",
        # sampled-pair betweenness numerators (betweenness.py)
        "betweenness": _sql_betweenness(n_seeds=8, radius=4),
        # per-conversation structural virality (virality.py)
        "virality": _sql_virality(radius=3),
        # originator influence latency, 4 Bellman-Ford rounds (sssp.py)
        "latency": _sql_latency(rounds=4),
        # Borůvka MSF, 8 unrolled rounds × 8 pointer-doubling jumps
        "msf": _sql_msf(rounds=8, jumps=8),
        # deterministic maximal matching, 4 local-min edge rounds
        "matching": _sql_matching(rounds=4),
        # matching contracted into the coarse weighted multigraph
        "coarsen": _sql_coarsen(rounds=4),
        # exact Jaccard set-similarity join, AllPairs prefix filter at
        # t = 9/10 (dedup.py::setsim_join); every filter is an integer
        # cross-multiplication, prefix = n - ceil(9n/10) + 1
        "setsim": """
WITH nt AS (
  SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents
),
tok AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT_REGEX(s, '\\s+')) AS w
  FROM nt WHERE LENGTH(s) > 0
),
dfreq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
ordered AS (
  SELECT t.doc_id, t.w, s.n,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.c, t.w) AS pos
  FROM tok t JOIN dfreq d ON d.w = t.w JOIN sz s ON s.doc_id = t.doc_id
),
pref AS (SELECT doc_id, w FROM ordered
         WHERE pos <= n - ((9 * n + 9) // 10) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM pref a JOIN pref b ON a.w = b.w AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc1, c.doc2, CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c JOIN tok x ON x.doc_id = c.doc1
              JOIN tok y ON y.doc_id = c.doc2 AND y.w = x.w
  GROUP BY c.doc1, c.doc2
)
SELECT doc1, doc2, i AS inter, u AS uni,
       FLOOR(CAST(i AS DOUBLE) / CAST(u AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS jaccard
FROM (
  SELECT n.doc1, n.doc2, n.i, sa.n + sb.n - n.i AS u
  FROM inter n JOIN sz sa ON sa.doc_id = n.doc1
               JOIN sz sb ON sb.doc_id = n.doc2
) WHERE i * 10 >= 9 * u""",
        # RAG chunk manifest, 32-token windows / 8 overlap (stride 24),
        # last start capped at n-32 (no subset-duplicate tail chunks);
        # RANGE(32) safely bounds chunks/doc at this corpus length
        "chunks": """
WITH tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(TRIM(text), '\\s+') END AS toks
  FROM documents
),
ch AS (
  SELECT doc_id, toks,
         CASE WHEN LEN(toks) = 0 THEN 0
              WHEN LEN(toks) <= 32 THEN 1
              ELSE (LEN(toks) - 32 - 1) // 24 + 2 END AS nch
  FROM tk
),
st AS (
  SELECT doc_id, toks, r.i AS chunk_idx,
         GREATEST(LEAST(r.i * 24, LEN(toks) - 32), 0) AS s
  FROM ch, RANGE(32) r(i) WHERE r.i < nch
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(s AS INT) AS start_tok,
       CAST(LEN(toks[s + 1 : s + 32]) AS INT) AS n_toks,
       ARRAY_TO_STRING(toks[s + 1 : s + 32], ' ') AS chunk_text
FROM st""",
        # top-20 collocations by exact lift (textstats.py); division
        # order pinned to the engine's: (n/nb) / ((n1/nu) * (n2/nu))
        "collocations": """
WITH nt AS (
  SELECT TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents
),
tk AS (
  SELECT CASE WHEN LENGTH(s) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(s, '\\s+') END AS t
  FROM nt
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
  FROM (SELECT UNNEST(t) AS w FROM tk) GROUP BY w
),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT t[r.i + 1] AS w1, t[r.i + 2] AS w2
    FROM tk, RANGE(512) r(i) WHERE r.i < LEN(t) - 1
  ) GROUP BY w1, w2 HAVING COUNT(*) >= 5
),
nu AS (SELECT CAST(SUM(nw) AS BIGINT) AS v FROM uni),
nb AS (SELECT CAST(SUM(GREATEST(LEN(t) - 1, 0)) AS BIGINT) AS v FROM tk)
SELECT w1, w2, n, lift FROM (
  SELECT b.w1, b.w2, b.n,
         FLOOR((CAST(b.n AS DOUBLE) / CAST(nb.v AS DOUBLE))
               / ((CAST(u1.nw AS DOUBLE) / CAST(nu.v AS DOUBLE))
                  * (CAST(u2.nw AS DOUBLE) / CAST(nu.v AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 AS lift
  FROM bi b
  JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2, nu, nb
)
ORDER BY lift DESC, w1, w2 LIMIT 20""",
        # stream-stream interval join == batch interval join
        # (streaming/windows.py::stream_interval_join)
        "stream_ivjoin": """
SELECT a.user_id, a.event_id AS left_id, b.event_id AS right_id,
       (EPOCH_US(b.ts) - EPOCH_US(a.ts)) // 1000000 AS lag_s
FROM events a JOIN events b
  ON b.user_id = a.user_id
 AND a.event_type = 'view' AND b.event_type = 'click'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR""",
        # first-order Markov transition counts (transitions.py)
        "transitions": """
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type
  FROM events
),
pairs AS (
  SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE from_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, p.n,
       FLOOR(CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS p
FROM pairs p JOIN tot t ON t.from_type = p.from_type""",
        # equal-token mixing rates per source (transitions.py)
        "mixture": """
WITH tk AS (
  SELECT source,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS t
  FROM documents
),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(t) AS BIGINT) AS n_tokens
  FROM tk GROUP BY source
)
SELECT source, n_docs, n_tokens,
       FLOOR(CAST((SELECT MIN(n_tokens) FROM per) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS sample_rate
FROM per""",
        # Z-order clustering keys (layout.py::zorder_layout): the
        # magic-mask bit spread staged through CTEs; >> equals Spark's
        # shiftrightunsigned because zkey < 2^62 stays positive
        "zorder": """
WITH ev AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) & 2147483647 AS a,
         (EPOCH_US(ts) // 86400000000) & 2147483647 AS b
  FROM events
),
s1 AS (SELECT event_id, (a | (a << 16)) & 281470681808895 AS a,
              (b | (b << 16)) & 281470681808895 AS b FROM ev),
s2 AS (SELECT event_id, (a | (a << 8)) & 71777214294589695 AS a,
              (b | (b << 8)) & 71777214294589695 AS b FROM s1),
s3 AS (SELECT event_id, (a | (a << 4)) & 1085102592571150095 AS a,
              (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
s4 AS (SELECT event_id, (a | (a << 2)) & 3689348814741910323 AS a,
              (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
s5 AS (SELECT event_id, (a | (a << 1)) & 6148914691236517205 AS a,
              (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
SELECT event_id, a | (b << 1) AS zkey,
       CAST((a | (b << 1)) >> 54 AS INT) AS bucket
FROM s5""",
        # edit-distance-1 fuzzy self-join (fuzzy.py::fuzzy_pairs_ed1):
        # deletion-neighborhood blocking + exact levenshtein verify;
        # RANGE(65) bounds the variant index (max_len=64)
        "fuzzy": """
WITH sf AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS s FROM events
  WHERE LENGTH('u' || CAST(user_id AS VARCHAR)) BETWEEN 1 AND 64
),
ex AS (
  SELECT DISTINCT s,
         CASE WHEN r.i = 0 THEN s
              ELSE SUBSTRING(s, 1, r.i - 1) || SUBSTRING(s, r.i + 1)
         END AS v
  FROM sf, RANGE(65) r(i) WHERE r.i <= LENGTH(s)
),
cand AS (
  SELECT DISTINCT a.s AS s1, b.s AS s2
  FROM ex a JOIN ex b ON a.v = b.v WHERE a.s < b.s
)
SELECT s1, s2 FROM cand WHERE LEVENSHTEIN(s1, s2) = 1""",
        # sorted-neighborhood dedup (snm.py::snm_pairs): the oracle is
        # the NAIVE global formulation (one ROW_NUMBER over the whole
        # sort order) that the engine's two-level block ranking must
        # reproduce exactly
        "snm": """
WITH k AS (
  SELECT doc_id, SUBSTRING(LOWER(text), 1, 16) AS key
  FROM documents WHERE text IS NOT NULL
),
p AS (
  SELECT doc_id, key,
         ROW_NUMBER() OVER (ORDER BY key, doc_id) AS pos
  FROM k
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEVENSHTEIN(a.key, b.key) AS INT) AS dist
FROM p a JOIN p b ON b.pos > a.pos AND b.pos <= a.pos + 5
WHERE LEVENSHTEIN(a.key, b.key) <= 5""",
        # Bloom-filter semi-join (bloomjoin.py::bloom_semi_join): the
        # pre-filter is lossy but composed with an exact semi-join, so
        # the oracle is simply the plain semi-join + rollup
        "bloom_join": """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0)
GROUP BY l_returnflag
ORDER BY l_returnflag""",
        # Single-pass profile (profile.py::profile_table): per-column
        # UNION ALL of one-scan aggregates; min/max stringified AFTER
        # native-type aggregation in both engines
        "profile": """
SELECT 'event_id' AS "column", COUNT(*) AS n_rows,
       COUNT(event_id) AS n_nonnull,
       COUNT(*) - COUNT(event_id) AS n_nulls,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(MIN(event_id) AS VARCHAR) AS min_value,
       CAST(MAX(event_id) AS VARCHAR) AS max_value
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(user_id),
       COUNT(*) - COUNT(user_id),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', COUNT(*), COUNT(event_type),
       COUNT(*) - COUNT(event_type),
       CAST(COUNT(DISTINCT event_type) AS BIGINT),
       MIN(event_type), MAX(event_type)
FROM events""",
        # Quality gates (profile.py::check_constraints): conditional
        # violation counts, NULL predicate == violation
        "quality_checks": """
SELECT 'orderkey_not_null' AS "check", COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
                THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'total_positive', COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'priority_in_domain', COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(o_orderpriority IN
                     ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
                      '5-LOW'), FALSE) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT COALESCE(o_orderpriority IN
                ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
                 '5-LOW'), FALSE) THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'status_in_domain', COUNT(*),
       CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'),
                     FALSE) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'),
                FALSE) THEN 1 ELSE 0 END) = 0
FROM orders""",
        # Histogram quantile sketch (histogram.py): fixed boundaries,
        # bucket = #boundaries < v, nearest-rank CEIL(q*n), est =
        # bucket's upper boundary (1-based list indexing)
        "hist_quantiles": """
WITH bs AS (
  SELECT CAST([10.0, 25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0]
              AS DOUBLE[]) AS b
),
sk AS (
  SELECT event_type,
         LEN(LIST_FILTER((SELECT b FROM bs), x -> x < value)) AS bucket,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS n_total
  FROM sk
),
ex AS (
  SELECT c.*, q.q
  FROM cum c,
       (SELECT UNNEST(CAST([0.25, 0.5, 0.9] AS DOUBLE[])) AS q) q
),
hit AS (
  SELECT event_type, q, CAST(n_total AS BIGINT) AS n_total,
         MIN(bucket) AS bucket
  FROM ex WHERE cum >= CEIL(q * n_total)
  GROUP BY 1, 2, 3
)
SELECT event_type, q, n_total,
       CASE WHEN bucket < 8
            THEN (SELECT b FROM bs)[bucket + 1] END AS est
FROM hit""",
        # MERGE INTO (snapshot.py::merge_upsert): merged state derived
        # analytically from the same modular evolution rules
        "merge_upsert": """
WITH merged AS (
  SELECT CASE WHEN c_custkey % 7 = 0 THEN 'MERGED'
              ELSE c_mktsegment END AS c_mktsegment,
         c_acctbal
  FROM customer
  UNION ALL
  SELECT c_mktsegment, c_acctbal FROM customer
  WHERE c_custkey % 11 = 0
)
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS bal_cents
FROM merged GROUP BY 1 ORDER BY 1""",
        # stream-static dim join == the batch join (inner; NULL values
        # keep their row via COUNT but drop out of the cents SUM on
        # both engines)
        "stream_dimjoin": """
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events JOIN customer ON c_custkey = user_id + 1
GROUP BY 1""",
        # MERGE with delete clause: %13 keys deleted, %7-not-%13
        # re-segmented, %11 re-keyed inserts keep their segment,
        # unmatched tombstones never inserted
        "merge_delete": """
WITH merged AS (
  SELECT CASE WHEN c_custkey % 7 = 0 AND c_custkey % 13 <> 0 THEN 'MERGED'
              ELSE c_mktsegment END AS c_mktsegment,
         c_acctbal
  FROM customer
  WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_mktsegment, c_acctbal FROM customer
  WHERE c_custkey % 11 = 0
)
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS bal_cents
FROM merged GROUP BY 1 ORDER BY 1""",
        # after 8 append slices + rewrite_files + expire_snapshots the
        # HEAD read must equal the original table exactly
        "table_maintenance": """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS price_cents
FROM orders GROUP BY 1 ORDER BY 1""",
        # SRM check (experiment.py::srm_check): distinct units per
        # arm, chi2 over the 2-row aggregate (commutative 2-term sum)
        "srm": """
WITH u AS (SELECT DISTINCT user_id AS u FROM events),
a AS (
  SELECT CAST(u % 2 AS INT) AS arm, COUNT(*) AS n_units
  FROM u GROUP BY 1
),
t AS (SELECT CAST(SUM(n_units) AS BIGINT) AS n_total FROM a),
j AS (
  SELECT a.arm, a.n_units, t.n_total,
         CAST(t.n_total AS DOUBLE) / 2.0 AS exp_d,
         CAST(a.n_units AS DOUBLE)
           - CAST(t.n_total AS DOUBLE) / 2.0 AS dev
  FROM a, t
)
SELECT arm, n_units, n_total,
       FLOOR(exp_d * 10000.0 + 0.5) / 10000.0 AS expected,
       FLOOR(SUM(dev * dev / exp_d) OVER () * 10000.0 + 0.5) / 10000.0
         AS chi2
FROM j ORDER BY arm""",
        # CUPED readout (experiment.py): integer cents sums, theta and
        # means from single-row aggregates in the engine's exact
        # expression order, BIGINT casts keep the overflow envelope
        # identical across engines
        "cuped": """
WITH b AS (
  SELECT user_id AS u, EPOCH_US(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
pu AS (
  SELECT u,
         CAST(SUM(CASE WHEN day < 19726 THEN c ELSE 0 END) AS BIGINT)
           AS x,
         CAST(SUM(CASE WHEN day >= 19726 THEN c ELSE 0 END) AS BIGINT)
           AS y
  FROM b GROUP BY u
),
g AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pu
),
t AS (
  SELECT CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)
              ELSE 0.0 END AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
  FROM g
),
a AS (
  SELECT CAST(u % 2 AS INT) AS arm, COUNT(*) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
  FROM pu GROUP BY 1
)
SELECT arm, n_users,
       FLOOR(CAST(sy_a AS DOUBLE) / (100.0 * CAST(n_users AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS mean_post,
       FLOOR((CAST(sy_a AS DOUBLE) - t.theta *
              (CAST(sx_a AS DOUBLE)
               - CAST(n_users AS DOUBLE) * t.mean_x))
             / (100.0 * CAST(n_users AS DOUBLE)) * 10000.0 + 0.5)
             / 10000.0 AS mean_adj,
       FLOOR(t.theta * 10000.0 + 0.5) / 10000.0 AS theta
FROM a, t
ORDER BY arm""",
        # Conjunctive search (index.py::keyword_search): one grouped
        # conditional-count pass, HAVING-all filter, total-order LIMIT
        "search": """
WITH tk AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\\W+')) AS token
  FROM documents
),
t AS (
  SELECT doc_id,
         SUM(CASE WHEN token = 'join' THEN 1 ELSE 0 END) AS tf0,
         SUM(CASE WHEN token = 'scan' THEN 1 ELSE 0 END) AS tf1,
         SUM(CASE WHEN token = 'merge' THEN 1 ELSE 0 END) AS tf2
  FROM tk WHERE token <> '' GROUP BY doc_id
)
SELECT doc_id, CAST(tf0 + tf1 + tf2 AS BIGINT) AS score
FROM t WHERE tf0 > 0 AND tf1 > 0 AND tf2 > 0
ORDER BY score DESC, doc_id
LIMIT 20""",
        # Inverted index (index.py): enumerate the RAW split array
        # (positions include empty slots, filtered after), padded-key
        # postings head, STRING_AGG ORDER BY
        "inverted_index": """
WITH raw AS (
  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\\W+') AS toks
  FROM documents
),
tk AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(LEN(toks)),
                i -> toks[i + 1] || '@' || CAST(i AS VARCHAR))) AS e
  FROM raw
),
tp AS (
  SELECT doc_id,
         STRING_SPLIT(e, '@')[1] AS token,
         CAST(STRING_SPLIT(e, '@')[2] AS BIGINT) AS pos
  FROM tk
  WHERE STRING_SPLIT(e, '@')[1] <> ''
),
cnt AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         COUNT(*) AS n_occ
  FROM tp GROUP BY 1
),
keyed AS (
  SELECT token,
         LPAD(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
         LPAD(CAST(pos AS VARCHAR), 20, '0') AS e,
         ROW_NUMBER() OVER
           (PARTITION BY token
            ORDER BY LPAD(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
                     LPAD(CAST(pos AS VARCHAR), 20, '0')) AS rk
  FROM tp
),
hd AS (
  SELECT token, STRING_AGG(e, ',' ORDER BY e) AS postings
  FROM keyed WHERE rk <= 16 GROUP BY 1
)
SELECT c.token, c.n_docs, c.n_occ, hd.postings
FROM cnt c JOIN hd USING (token)""",
        # Join-key discovery (discovery.py): per-column KMV sketches,
        # pairwise theta intersection, containment = est_common/est_a
        # with every division/rounding mirroring the engine
        "join_discovery": f"""
WITH vals AS (
  SELECT 'customer.c_custkey' AS cid,
         MD5(CAST(c_custkey AS VARCHAR)) AS h FROM customer
  UNION ALL
  SELECT 'orders.o_custkey', MD5(CAST(o_custkey AS VARCHAR)) FROM orders
  UNION ALL
  SELECT 'orders.o_orderkey', MD5(CAST(o_orderkey AS VARCHAR))
  FROM orders
  UNION ALL
  SELECT 'lineitem.l_orderkey', MD5(CAST(l_orderkey AS VARCHAR))
  FROM lineitem
),
dh AS (SELECT DISTINCT cid, h FROM vals),
r AS (
  SELECT cid, h,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY h) AS rk
  FROM dh
),
sk AS (SELECT cid, h FROM r WHERE rk <= 128),
kth AS (SELECT cid, COUNT(*) AS n, MAX(h) AS kmax FROM sk GROUP BY 1),
e AS (
  SELECT cid, CASE WHEN n >= 128 THEN kmax END AS kh,
         CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
              ELSE FLOOR(127.0 / (CAST(({_hex15_num('kmax')}) AS DOUBLE)
                   / 1152921504606846976.0) * 10000.0 + 0.5) / 10000.0
         END AS est
  FROM kth
),
p AS (
  SELECT a.cid AS col_a, b.cid AS col_b, a.est AS est_a,
         b.est AS est_b, LEAST(a.kh, b.kh) AS theta
  FROM e a JOIN e b ON a.cid < b.cid
),
cm AS (
  SELECT p.col_a, p.col_b,
         COUNT(*) FILTER (WHERE p.theta IS NULL OR x.h < p.theta) AS nc
  FROM p
  JOIN sk x ON x.cid = p.col_a
  JOIN sk y ON y.cid = p.col_b AND y.h = x.h
  GROUP BY 1, 2
),
f AS (
  SELECT p.col_a, p.col_b, p.est_a, p.est_b,
         CASE WHEN p.theta IS NULL
              THEN CAST(COALESCE(cm.nc, 0) AS DOUBLE)
              ELSE FLOOR(CAST(COALESCE(cm.nc, 0) AS DOUBLE)
                   / (CAST(({_hex15_num('p.theta')}) AS DOUBLE)
                      / 1152921504606846976.0) * 10000.0 + 0.5) / 10000.0
         END AS est_common
  FROM p LEFT JOIN cm
    ON cm.col_a = p.col_a AND cm.col_b = p.col_b
)
SELECT col_a, col_b, est_a, est_b, est_common,
       CASE WHEN est_a > 0
            THEN FLOOR(est_common / est_a * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS containment
FROM f""",
        # Effective-dated join (temporal.py::scd2_join): the scd2
        # history CTEs + a half-open interval LEFT join
        "scd2_join": """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % 10 = 0
),
chg AS (
  SELECT * FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type
),
h AS (
  SELECT user_id, event_type, EPOCH_US(ts) AS vf,
         LEAD(EPOCH_US(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS vt
  FROM chg
),
facts AS (
  SELECT event_id, user_id, EPOCH_US(ts) AS us FROM events
  WHERE user_id % 10 = 0 AND event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.us, h.event_type AS dim_event_type
FROM facts f LEFT JOIN h
  ON h.user_id = f.user_id AND f.us >= h.vf
 AND (h.vt IS NULL OR f.us < h.vt)""",
        # Percentile-rank normalization (encode.py::rank_normalize):
        # RANK ties, NULLS LAST pinned, FLOOR rounding idiom
        "rank_norm": """
WITH w AS (
  SELECT event_id, event_type, value,
         RANK() OVER (PARTITION BY event_type
                      ORDER BY value ASC NULLS LAST) AS rk,
         COUNT(value) OVER (PARTITION BY event_type) AS nn
  FROM events
)
SELECT event_id, event_type,
       CASE WHEN value IS NOT NULL AND nn > 1
            THEN FLOOR(CAST(rk - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0
       END AS pr
FROM w""",
        # Cumulative adoption (cohort.py::adoption_curve): first-seen
        # day per user, day-grain running sum
        "adoption": """
WITH d AS (
  SELECT user_id, EPOCH_US(ts) // 86400000000 AS day FROM events
),
f AS (SELECT user_id, MIN(day) AS day FROM d GROUP BY 1),
dd AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1)
SELECT day, new_users,
       CAST(SUM(new_users) OVER
            (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS cum_users
FROM dd""",
        # Rendezvous sharding (shard.py): HRW argmax via padded-key
        # ARG_MAX (ties -> larger shard, matching struct ordering)
        "shards": f"""
WITH h AS (
  SELECT doc_id, s.s AS shard,
         MD5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.s AS VARCHAR))
           AS hx
  FROM documents, (SELECT UNNEST(RANGE(8)) AS s) s
),
w AS (
  SELECT doc_id, shard, CAST(({_hex15_num('hx')}) AS BIGINT) AS wt
  FROM h
)
SELECT doc_id,
       CAST(ARG_MAX(shard,
                    LPAD(CAST(wt AS VARCHAR), 20, '0') || ':' ||
                    CAST(shard AS VARCHAR)) AS INT) AS shard
FROM w GROUP BY doc_id""",
        # Compaction planner (compaction.py): largest-first chain
        # packing, prior-cumsum integer division
        "compaction": """
WITH f AS (
  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS size
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT lang, doc_id, size,
         CAST(SUM(size) OVER
              (PARTITION BY lang ORDER BY size DESC, doc_id)
              - size AS BIGINT) AS prior
  FROM f
),
b AS (SELECT lang, doc_id, size, prior // 4000 AS bin FROM r)
SELECT lang, doc_id, size, bin,
       CAST(SUM(size) OVER (PARTITION BY lang, bin) AS BIGINT)
         AS bin_bytes
FROM b""",
        # Rolling z-score anomalies (anomaly.py): RANGE-frame window
        # sums in integer cents, cross-multiplied sigma test
        "anomaly": _SQL_ANOMALY,
        # buffer-pruned keyed state == the batch RANGE frame: same
        # oracle verbatim (the 13th gated stream==batch path)
        "stream_anomaly": _SQL_ANOMALY,
        # CDC table diff (diff.py): statuses derived analytically from
        # the same modular evolution rules the query applies
        "table_diff": """
SELECT o_orderkey + 1000000000 AS o_orderkey, 'added' AS status
FROM orders WHERE o_orderkey % 17 = 0
UNION ALL
SELECT o_orderkey, 'removed' FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
SELECT o_orderkey, 'changed' FROM orders
WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 = 0""",
        # Survivorship merge (survivor.py): ARG_MAX recency +
        # count-then-value ARG_MIN frequency rules on padded keys
        "golden": """
WITH b AS (
  SELECT user_id, event_type, event_id, EPOCH_US(ts) AS us,
         LPAD(CAST(EPOCH_US(ts) AS VARCHAR), 20, '0') || ':' ||
         LPAD(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events
),
base AS (
  SELECT user_id, COUNT(*) AS n_records,
         MIN(us) AS first_us, MAX(us) AS last_us,
         ARG_MAX(event_type, k) AS latest_event_type
  FROM b GROUP BY user_id
),
cnt AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
md AS (
  SELECT user_id,
         ARG_MIN(event_type,
                 LPAD(CAST(1000000000000 - n AS VARCHAR), 13, '0')
                 || ':' || event_type) AS mode_event_type
  FROM cnt GROUP BY 1
)
SELECT base.*, md.mode_event_type
FROM base LEFT JOIN md USING (user_id)""",
        # LOO target encoding (encode.py): integer-cents window sums,
        # single float division, FLOOR rounding idiom
        "target_encode": """
WITH c AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
w AS (
  SELECT event_id, user_id, cents,
         SUM(cents) OVER (PARTITION BY user_id) AS s,
         COUNT(cents) OVER (PARTITION BY user_id) AS n
  FROM c
)
SELECT event_id, user_id,
       CASE WHEN cents IS NOT NULL AND n > 1
            THEN FLOOR(CAST(s - cents AS DOUBLE)
                 / CAST((n - 1) * 100 AS DOUBLE) * 10000.0 + 0.5)
                 / 10000.0
       END AS te
FROM w""",
        # Signed feature hashing (encode.py): md5 top-60-bits mod dim,
        # sign via the integer identity (h div d) % 2 == (h % 2d) >= d
        "feature_hash": f"""
WITH h AS (
  SELECT event_id,
         MD5('0:event_type=' ||
             COALESCE(CAST(event_type AS VARCHAR), CHR(0) || 'NULL'))
           AS h0,
         MD5('1:user_id=' ||
             COALESCE(CAST(user_id AS VARCHAR), CHR(0) || 'NULL'))
           AS h1
  FROM events
),
n AS (
  SELECT event_id,
         CAST(({_hex15_num('h0')}) AS BIGINT) AS n0,
         CAST(({_hex15_num('h1')}) AS BIGINT) AS n1
  FROM h
)
SELECT event_id,
       [CAST(n0 % 64 AS INT), CAST(n1 % 64 AS INT)] AS fh_idx,
       [CASE WHEN n0 % 128 >= 64 THEN -1 ELSE 1 END,
        CASE WHEN n1 % 128 >= 64 THEN -1 ELSE 1 END] AS fh_sign
FROM n""",
        # Batched inference (operators/inference.py): hashed features ->
        # seed-derived integer weights -> integer logit -> fast sigmoid
        # (one IEEE division of integers; no libm exp cross-engine risk)
        "inference": f"""
WITH wh AS MATERIALIZED (
  SELECT i, MD5('w:7:' || CAST(i AS VARCHAR)) AS hw FROM RANGE(64) r(i)
),
w AS MATERIALIZED (
  SELECT i, CAST(({_hex15_num('hw')}) % 255 AS BIGINT) - 127 AS wt FROM wh
),
h AS (
  SELECT event_id,
         MD5('0:event_type=' ||
             COALESCE(CAST(event_type AS VARCHAR), CHR(0) || 'NULL'))
           AS h0,
         MD5('1:user_id=' ||
             COALESCE(CAST(user_id AS VARCHAR), CHR(0) || 'NULL'))
           AS h1
  FROM events
),
n AS (
  SELECT event_id,
         CAST(({_hex15_num('h0')}) AS BIGINT) AS n0,
         CAST(({_hex15_num('h1')}) AS BIGINT) AS n1
  FROM h
),
z AS (
  SELECT event_id,
         (CASE WHEN n0 % 128 >= 64 THEN -1 ELSE 1 END) * w0.wt
         + (CASE WHEN n1 % 128 >= 64 THEN -1 ELSE 1 END) * w1.wt AS z
  FROM n JOIN w w0 ON w0.i = n0 % 64 JOIN w w1 ON w1.i = n1 % 64
)
SELECT event_id, CAST(z AS BIGINT) AS logit,
       0.5 + CAST(z AS DOUBLE) / (2 * (1 + ABS(CAST(z AS DOUBLE)))) AS score,
       z >= 0 AS label
FROM z""",
        # Theta-sketch intersection (sketch.py::kmv_intersect):
        # theta = LEAST of the sides' k-th hashes (both engines skip
        # NULLs in LEAST), common-below-theta counted via a hash
        # equi-join, estimator division order mirrors the engine
        "kmv_overlap": f"""
WITH h AS (
  SELECT DISTINCT event_type, event_id % 2 AS half,
         MD5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
r AS (
  SELECT event_type, half, h,
         ROW_NUMBER() OVER
           (PARTITION BY event_type, half ORDER BY h) AS rk
  FROM h
),
sk AS (SELECT event_type, half, h FROM r WHERE rk <= 32),
kth AS (
  SELECT event_type, half, COUNT(*) AS n, MAX(h) AS kmax
  FROM sk GROUP BY 1, 2
),
th AS (
  SELECT a.event_type,
         LEAST(CASE WHEN a.n >= 32 THEN a.kmax END,
               CASE WHEN b.n >= 32 THEN b.kmax END) AS theta
  FROM kth a JOIN kth b
    ON a.event_type = b.event_type AND a.half = 0 AND b.half = 1
),
cm AS (
  SELECT x.event_type,
         COUNT(*) FILTER (WHERE t.theta IS NULL OR x.h < t.theta)
           AS n_common
  FROM sk x
  JOIN sk y ON x.event_type = y.event_type AND x.h = y.h
           AND x.half = 0 AND y.half = 1
  JOIN th t ON t.event_type = x.event_type
  GROUP BY 1
)
SELECT t.event_type,
       CAST(COALESCE(cm.n_common, 0) AS INT) AS n_common,
       CASE WHEN t.theta IS NULL
            THEN CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
            ELSE FLOOR(CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                 / (CAST(({_hex15_num('t.theta')}) AS DOUBLE)
                    / 1152921504606846976.0) * 10000.0 + 0.5) / 10000.0
       END AS est_intersect
FROM th t LEFT JOIN cm ON cm.event_type = t.event_type""",
        # Salted skew join (skewjoin.py): the salt is correctness-
        # neutral by construction, so the oracle is the PLAIN join
        "salted_join": """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment""",
        # Gaps-and-islands (streaks.py): day - DENSE_RANK island id,
        # COUNT DISTINCT day per island, longer-then-earlier ARG_MIN
        "streaks": """
WITH d AS (
  SELECT user_id,
         CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
r AS (
  SELECT user_id, day,
         day - DENSE_RANK() OVER
           (PARTITION BY user_id ORDER BY day) AS island
  FROM d
),
i AS (
  SELECT user_id, island, MIN(day) AS start_day,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM r GROUP BY 1, 2
)
SELECT user_id,
       MAX(n_days) AS best_n_days,
       ARG_MIN(start_day,
               LPAD(CAST(1000000 - n_days AS VARCHAR), 9, '0') || ':' ||
               LPAD(CAST(start_day AS VARCHAR), 12, '0'))
         AS best_start_day,
       COUNT(*) AS n_islands
FROM i GROUP BY user_id""",
        # Conversion attribution (attribution.py): banded per-user
        # interval join + ARG_MIN/ARG_MAX on the padded micros:id key
        "attribution": """
WITH b AS (
  SELECT event_id, user_id, event_type, EPOCH_US(ts) AS us FROM events
),
conv AS (
  SELECT event_id, user_id, us AS conv_us FROM b
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id AS t_user, event_type AS t_type, us AS t_us,
         event_id AS t_id
  FROM b WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT c.event_id, c.user_id, c.conv_us, t.t_type, t.t_us, t.t_id,
         LPAD(CAST(t.t_us AS VARCHAR), 20, '0') || ':' ||
         LPAD(CAST(t.t_id AS VARCHAR), 20, '0') AS k
  FROM conv c LEFT JOIN touch t
    ON t.t_user = c.user_id AND t.t_us < c.conv_us
   AND t.t_us >= c.conv_us - 604800000000
)
SELECT event_id, user_id, conv_us,
       COUNT(t_id) AS n_touches,
       ARG_MIN(t_type, k) AS first_touch_type,
       MIN(t_us) AS first_touch_us,
       ARG_MAX(t_type, k) AS last_touch_type,
       MAX(t_us) AS last_touch_us,
       conv_us - MAX(t_us) AS latency_us
FROM j GROUP BY event_id, user_id, conv_us""",
        # SCD Type-2 history (scd.py::scd2_history): LAG change
        # detection (IS DISTINCT FROM == eqNullSafe) + LEAD interval
        # close, micros idiom, event_id tiebreak
        "scd2": """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % 10 = 0
),
chg AS (
  SELECT * FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       EPOCH_US(ts) AS valid_from,
       LEAD(EPOCH_US(ts)) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(EPOCH_US(ts)) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM chg""",
        # KMV distinct sketch, k=32 (sketch.py::kmv_distinct): the
        # k-th hash's top 15 hex digits -> BIGINT via the INSTR idiom;
        # division order mirrors the engine exactly
        "kmv": f"""
WITH h AS (
  SELECT DISTINCT event_type, MD5(CAST(user_id AS VARCHAR)) AS h FROM events
),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM h
),
t AS (
  SELECT event_type, CAST(COUNT(*) AS INT) AS n_kept, MAX(h) AS kmax
  FROM r WHERE rk <= 32 GROUP BY event_type
)
SELECT event_type, n_kept,
       CASE WHEN n_kept >= 32 THEN kmax END AS kth_hash,
       CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
            ELSE FLOOR(31.0 / (CAST(({_hex15_num('kmax')}) AS DOUBLE)
                 / 1152921504606846976.0) * 10000.0 + 0.5) / 10000.0
       END AS est_distinct
FROM t""",
        # Gopher-style repetition signals (curation.py::repetition_stats)
        "repetition": """
WITH ntext AS (
  SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
  FROM ntext
),
base AS (SELECT doc_id, LEN(tk) AS n, LEN(LIST_DISTINCT(tk)) AS nd FROM tk),
bg AS (SELECT doc_id,
              UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 1),
                                    i -> ARRAY_TO_STRING(tk[i + 1 : i + 2], ' '))) AS gram
       FROM tk WHERE LEN(tk) >= 2),
bc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram),
btop AS (SELECT doc_id, gram AS top_bigram, CAST(c AS INT) AS top_bigram_n
         FROM (SELECT doc_id, gram, c,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, gram) AS rk
               FROM bc) WHERE rk = 1),
tg AS (SELECT doc_id,
              UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 2),
                                    i -> ARRAY_TO_STRING(tk[i + 1 : i + 3], ' '))) AS gram
       FROM tk WHERE LEN(tk) >= 3),
tc AS (SELECT doc_id, gram, COUNT(*) AS c FROM tg GROUP BY doc_id, gram),
tfr AS (SELECT doc_id, SUM(c) AS tot,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
        FROM tc GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n AS INT) AS n_tokens,
       CASE WHEN b.n = 0 THEN 0.0
            ELSE FLOOR(CAST(b.n - b.nd AS DOUBLE) / b.n * 10000.0 + 0.5)
                 / 10000.0 END AS dup_token_frac,
       t.top_bigram, t.top_bigram_n,
       CASE WHEN f.tot IS NULL OR f.tot = 0 THEN 0.0
            ELSE FLOOR(CAST(f.dup AS DOUBLE) / f.tot * 10000.0 + 0.5)
                 / 10000.0 END AS dup_trigram_frac
FROM base b LEFT JOIN btop t ON t.doc_id = b.doc_id
LEFT JOIN tfr f ON f.doc_id = b.doc_id""",
        # staged PII count-then-mask chain (curation.py::redact_pii)
        "pii_redact": _sql_pii_redact(),
        # deterministic hash-walk corpus (walks.py::hash_walks)
        "walks": _sql_walks(),
        # streamed session_window == batch lag/gap sessionization
        # (a gap of exactly 30 min still merges: split only on > gap,
        # same as the batch sessionize operator)
        "stream_sessions": """
WITH seq AS (
  SELECT user_id, event_id, ts, EPOCH_US(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM seq
),
sess AS (
  SELECT user_id, us, cents,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, MIN(us) AS session_start_us,
       MAX(us) + 30 * 60 * 1000000 AS session_end_us,
       COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM sess GROUP BY user_id, sid""",
        # radius-3 harmonic centrality: generic and cascade paths share
        # one oracle (they must agree exactly)
        "harmonic": _sql_harmonic(),
        "harmonic_cascade": _sql_harmonic(),
        # radius-capped eccentricity derived from the same level sets
        "eccentricity": f"""SELECT vid,
       CAST(CASE WHEN cnt_d3 > 0 THEN 3 WHEN cnt_d2 > 0 THEN 2
                 WHEN cnt_d1 > 0 THEN 1 ELSE 0 END AS INT) AS ecc3
FROM ({_sql_harmonic()})""",
        # 2-hop quantized neighbor-mean (featprop.py::neighborhood_mean)
        "featprop": _sql_featprop(),
        # PIVOT: per-user event-type counts spread wide
        "pivot": """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY user_id""",
        # UNPIVOT: dense user x type grid, zero-filled counts
        "unpivot": """
WITH u AS (SELECT DISTINCT user_id FROM events),
t AS (SELECT * FROM (VALUES ('click'), ('error'), ('purchase'),
                            ('signup'), ('view')) v(event_type)),
c AS (SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type)
SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM u CROSS JOIN t
LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type""",
        # CUBE over (event_type, weekday), NULL markers -> 'ALL'
        "cube": """
WITH ev AS (
  SELECT event_type, EPOCH_US(ts) // 86400000000 % 7 AS wd,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(wd AS VARCHAR), 'ALL') AS wd,
       COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM ev GROUP BY CUBE(event_type, wd)""",
        # GROUPING SETS: 3 explicit sets (joint + two marginals, no
        # grand total) + GROUPING() indicators — same Expand shape
        "grouping_sets": """
WITH ev AS (
  SELECT event_type, EPOCH_US(ts) // 86400000000 % 7 AS wd,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(wd AS VARCHAR), 'ALL') AS wd,
       CAST(GROUPING(event_type) * 2 + GROUPING(wd) AS BIGINT) AS gid,
       COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM ev GROUP BY GROUPING SETS ((event_type, wd), (event_type), (wd))""",
        # RANGE-frame trailing-7-day rolling sum per event type
        "rolling": """
WITH ev AS (
  SELECT event_type, EPOCH_US(ts) // 86400000000 AS day FROM events
),
daily AS (SELECT event_type, day, COUNT(*) AS n_day FROM ev GROUP BY 1, 2)
SELECT event_type, day, n_day,
       CAST(SUM(n_day) OVER (PARTITION BY event_type ORDER BY day
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
FROM daily""",
        # NTILE / PERCENT_RANK / CUME_DIST / NTH_VALUE corners
        "window_funcs": """
SELECT event_id, event_type,
       CAST(NTILE(4) OVER w AS BIGINT) AS ntile4,
       FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
       FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) / 1000000 AS cume,
       NTH_VALUE(user_id, 3) OVER w AS third_user
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""",
        # day-grain cohort retention (cohort.py::cohort_retention)
        "cohort": """
WITH ev AS (
  SELECT user_id, EPOCH_US(ts) // 86400000000 AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT f.cohort_day, e.day - f.cohort_day AS offset_days,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN first f ON f.user_id = e.user_id
GROUP BY f.cohort_day, offset_days""",
        # ordered funnel with first-touch >= tie semantics
        # (cohort.py::funnel_counts)
        "funnel": """
WITH mins AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN EPOCH_US(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'view' THEN EPOCH_US(ts) END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN EPOCH_US(ts) END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN EPOCH_US(ts) END) AS t3
  FROM events GROUP BY user_id
),
flags AS (
  SELECT (t0 IS NOT NULL) AS c0,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0) AS c1
  , (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
     AND t2 IS NOT NULL AND t2 >= t1) AS c2
  , (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
     AND t2 IS NOT NULL AND t2 >= t1
     AND t3 IS NOT NULL AND t3 >= t2) AS c3
  FROM mins
)
SELECT CAST(SUM(CASE WHEN c0 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
FROM flags""",
        # deterministic fanout cut (featprop.py::neighbor_sample)
        "neighbor_sample": f"""WITH {_SQL_EVID},
ed AS (SELECT DISTINCT src, dst FROM e),
rk AS (
  SELECT src, dst,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY
              MD5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)))
              AS INT) AS rk
  FROM ed
)
SELECT src, dst, rk FROM rk WHERE rk <= 3""",
        # deterministic Luby MIS (mis.py::maximal_independent_set)
        "mis": _sql_mis(),
        # approximate neighborhood function (anf.py): unrolled FM
        # bitmask propagation, pure-integer observables
        "anf": _sql_anf(),
        "anf_vertex": _sql_anf_vertices(),
        # HyperLogLog grouped distinct (hll.py): deterministic registers
        "hll": _sql_hll(),
        # stream==batch: streaming register fold drains to the same
        # sketch, so the oracle IS the batch HLL SQL
        "stream_hll": _sql_hll(),
        # BKV densest-subgraph peel (densest.py)
        "densest": _sql_densest(),
        "densest_sub": _sql_densest_sub(),
        "coloring": _sql_coloring(),
        # product-quantization ADC top-k (pq.py::knn_pq): one-step
        # Lloyd codebooks per subspace (seed fallback for empty
        # codewords), BIGINT squared distances, composite argmins —
        # bit-identical to the engine
        "knn_pq": """
WITH q AS (
  SELECT vec_id,
         LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
sub AS (
  SELECT vec_id, j.i AS sub, qv[j.i * 16 + 1 : j.i * 16 + 16] AS sv
  FROM q, RANGE(4) j(i)
),
sd AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM q ORDER BY vec_id LIMIT 16
),
cent AS (SELECT s.sub, sd.code, s.sv AS qc FROM sd JOIN sub s ON s.vec_id = sd.vec_id),
d0 AS (
  SELECT s.vec_id, s.sub, c.code,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(16),
           i -> (s.sv[i + 1] - c.qc[i + 1]) * (s.sv[i + 1] - c.qc[i + 1])))
           AS BIGINT) AS d
  FROM sub s JOIN cent c ON c.sub = s.sub
),
a0 AS (SELECT vec_id, sub, CAST(MIN(d * 16 + code) % 16 AS INT) AS code
       FROM d0 GROUP BY vec_id, sub),
exd AS (
  SELECT a.sub, a.code, t.i AS dim, s.sv[t.i + 1] AS u
  FROM a0 a JOIN sub s ON s.vec_id = a.vec_id AND s.sub = a.sub, RANGE(16) t(i)
),
upd AS (
  SELECT sub, code, dim,
         CAST(FLOOR(CAST(CAST(SUM(u) AS BIGINT) AS DOUBLE) / COUNT(*) + 0.5)
              AS BIGINT) AS upd_u
  FROM exd GROUP BY sub, code, dim
),
seedl AS (SELECT c.sub, c.code, t.i AS dim, c.qc[t.i + 1] AS seed_u
          FROM cent c, RANGE(16) t(i)),
cb AS (
  SELECT sl.sub, sl.code, sl.dim, COALESCE(u.upd_u, sl.seed_u) AS cu
  FROM seedl sl LEFT JOIN upd u
    ON u.sub = sl.sub AND u.code = sl.code AND u.dim = sl.dim
),
denc AS (
  SELECT s.vec_id, s.sub, b.code,
         CAST(SUM((s.sv[b.dim + 1] - b.cu) * (s.sv[b.dim + 1] - b.cu)) AS BIGINT) AS d
  FROM sub s JOIN cb b ON b.sub = s.sub GROUP BY s.vec_id, s.sub, b.code
),
enc AS (SELECT vec_id, sub, CAST(MIN(d * 16 + code) % 16 AS INT) AS code
        FROM denc GROUP BY vec_id, sub),
lut AS (
  SELECT vec_id AS query_id, sub, code, d FROM denc WHERE vec_id < 16
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
)
SELECT query_id, rank, neighbor_id, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist, neighbor_id) AS INT) AS rank
  FROM adc
) WHERE rank <= 5""",
        # one Lloyd k-means step, BIGINT-exact (kmeans.py::kmeans_step)
        "kmeans": """
WITH q AS (
  SELECT vec_id,
         LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, qv AS qc
  FROM q ORDER BY vec_id LIMIT 8
),
dists AS (
  SELECT q.vec_id, c.j,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(LEN(q.qv)),
           i -> (q.qv[i + 1] - c.qc[i + 1]) * (q.qv[i + 1] - c.qc[i + 1])))
           AS BIGINT) AS d
  FROM q CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, CAST(MIN(d * 8 + j) % 8 AS INT) AS cluster
  FROM dists GROUP BY vec_id
),
ex AS (
  -- dim is the table's fixed 64 (DuckDB 1.0 cannot lateral-join
  -- RANGE on a column)
  SELECT a.cluster, t.i AS dim, q.qv[t.i + 1] AS u
  FROM assign a JOIN q ON q.vec_id = a.vec_id, RANGE(64) t(i)
)
SELECT cluster, CAST(dim AS INT) AS dim,
       CAST(FLOOR(CAST(CAST(SUM(u) AS BIGINT) AS DOUBLE) / COUNT(*) + 0.5)
            AS BIGINT) AS c_unit,
       COUNT(*) AS n_members
FROM ex GROUP BY cluster, dim""",
        # SemDeDup: same seed-centroid assignment as the kmeans oracle,
        # then within-cluster integer-cosine pruning — cos >= t iff
        # dot > 0 AND dot^2 * 1e8 >= tnum^2 * aa * bb (tnum = 4000),
        # cross-multiplied in HUGEINT (Spark side: DECIMAL(38,0))
        # count-min sketch heavy hitters (cms.py::heavy_hitters):
        # identical md5-derived 4x64 grid, MIN across rows per probe
        "heavy_hitters": f"""
WITH keys AS (SELECT user_id FROM events),
hx AS (
  SELECT user_id, r.i AS rw,
         MD5(CAST(r.i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS h
  FROM keys, RANGE(4) r(i)
),
sk AS (
  SELECT rw, CAST(({_hex15_num('h')}) % 64 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hx GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact
  FROM keys GROUP BY user_id
),
top AS (
  SELECT user_id, exact FROM (
    SELECT user_id, exact,
           ROW_NUMBER() OVER (ORDER BY exact DESC, user_id) AS rk
    FROM exact
  ) WHERE rk <= 20
),
phx AS (
  SELECT t.user_id, r.i AS rw,
         MD5(CAST(r.i AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)) AS h
  FROM top t, RANGE(4) r(i)
),
est AS (
  SELECT p.user_id, MIN(sk.cnt) AS est
  FROM phx p JOIN sk
    ON sk.rw = p.rw AND sk.bucket = CAST(({_hex15_num('p.h')}) % 64 AS BIGINT)
  GROUP BY p.user_id
)
SELECT t.user_id, t.exact, e.est, e.est >= t.exact AS over_ok
FROM top t JOIN est e ON t.user_id = e.user_id""",
        "semdedup": """
WITH q AS (
  SELECT vec_id,
         LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, qv AS qc
  FROM q ORDER BY vec_id LIMIT 8
),
dists AS (
  SELECT q.vec_id, c.j,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(64),
           i -> (q.qv[i + 1] - c.qc[i + 1]) * (q.qv[i + 1] - c.qc[i + 1])))
           AS BIGINT) AS d
  FROM q CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, CAST(MIN(d * 8 + j) % 8 AS INT) AS cluster
  FROM dists GROUP BY vec_id
),
qa AS (
  SELECT q.vec_id AS id, a.cluster, q.qv,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(64),
           i -> q.qv[i + 1] * q.qv[i + 1])) AS BIGINT) AS ss
  FROM q JOIN assign a ON q.vec_id = a.vec_id
),
pairs AS (
  SELECT b.id,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(64),
           i -> a.qv[i + 1] * b.qv[i + 1])) AS BIGINT) AS dot,
         a.ss AS aa, b.ss AS bb
  FROM qa a JOIN qa b ON a.cluster = b.cluster AND a.id < b.id
),
dropped AS (
  SELECT DISTINCT id FROM pairs
  WHERE dot > 0
    AND CAST(dot AS HUGEINT) * dot * 100000000
        >= CAST(16000000 AS HUGEINT) * aa * bb
)
SELECT qa.id AS vec_id, qa.cluster,
       d.id IS NULL AS keep
FROM qa LEFT JOIN dropped d ON qa.id = d.id""",
        # contiguous-stream sequence packing (seqpack.py::sequence_pack)
        "seqpack": """
WITH tk AS (
  SELECT doc_id, source,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS s
  FROM tk
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(FLOOR(CAST(s AS DOUBLE) / 256) AS BIGINT) AS bin,
       CAST(s % 256 AS BIGINT) AS offset
FROM c""",
        # transitive closure of the verified near-dup pair graph
        # (recursive CTE == the engine's connected-components rounds)
        "neardup_clusters": f"WITH RECURSIVE {_SQL_MINHASH},\n"
        "bands AS (\n"
        "  SELECT doc_id, 0 AS band, sig_0 || '|' || sig_1 AS key FROM sig\n"
        "  UNION ALL\n"
        "  SELECT doc_id, 1 AS band, sig_2 || '|' || sig_3 AS key FROM sig\n"
        "),\n"
        "cand AS (\n"
        "  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b\n"
        "  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key\n"
        "  WHERE l.doc_id < r.doc_id\n"
        "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),\n"
        "inter AS (\n"
        "  SELECT c.a, c.b, COUNT(*) AS i\n"
        "  FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y\n"
        "    ON y.doc_id = c.b AND y.s = x.s\n"
        "  GROUP BY c.a, c.b\n"
        "),\n"
        "ver AS (\n"
        "  SELECT a, b FROM inter\n"
        "  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b\n"
        "  WHERE i > 0.6 * (sa.n + sb.n - i)\n"
        "),\n"
        "und AS (SELECT a, b FROM ver UNION SELECT b AS a, a AS b FROM ver),\n"
        "reach(a, b) AS (\n"
        "  SELECT a, b FROM und\n"
        "  UNION\n"
        "  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b\n"
        "),\n"
        "lbl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster\n"
        "        FROM reach GROUP BY a),\n"
        "asg AS (\n"
        "  SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster\n"
        "  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id\n"
        "),\n"
        "csz AS (SELECT cluster, COUNT(*) AS cluster_size\n"
        "        FROM asg GROUP BY cluster)\n"
        "SELECT a.doc_id, a.cluster, s.cluster_size\n"
        "FROM asg a JOIN csz s ON s.cluster = a.cluster",
        # SQ8 compressed-domain kNN: L2-normalize, symmetric global-scale
        # int8 codes (shift-free — shifts distort dot products), exact
        # integer dot-product ranking
        "knn_sq8": f"""
WITH {_SQL_EMB},
exn AS (
  SELECT e.vec_id, e.i, e.x / GREATEST(n.nrm, 1e-30) AS x
  FROM ex e JOIN norms n ON n.vec_id = e.vec_id
),
stats AS (
  SELECT GREATEST(MAX(ABS(x)), 1e-30) AS scale FROM exn
),
codes AS (
  SELECT e.vec_id, e.i,
         LEAST(127, GREATEST(-127,
           CAST(FLOOR(e.x / s.scale * 127 + 0.5) AS INT))) AS q
  FROM exn e, stats s
),
sqdots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(SUM(CAST(a.q AS BIGINT) * b.q) AS BIGINT) AS score
  FROM codes a JOIN codes b ON a.i = b.i
  WHERE a.vec_id < 16 AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM sqdots
) WHERE rank <= 5""",
        "knn": f"WITH {_SQL_EMB},\n"
        "dots AS (\n"
        "  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.x * b.x) AS dot\n"
        "  FROM ex a JOIN ex b ON a.i = b.i\n"
        "  WHERE a.vec_id < 16 AND a.vec_id <> b.vec_id\n"
        "  GROUP BY a.vec_id, b.vec_id\n"
        "),\n"
        "scored AS (\n"
        "  SELECT query_id, neighbor_id,\n"
        "         FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 AS sim\n"
        "  FROM dots JOIN norms na ON na.vec_id = query_id\n"
        "            JOIN norms nb ON nb.vec_id = neighbor_id\n"
        ")\n"
        "SELECT query_id, rank, neighbor_id, sim FROM (\n"
        "  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank\n"
        "  FROM scored\n"
        ") WHERE rank <= 5",
        "knn_ivf": f"WITH {_SQL_EMB},\n"
        "cent AS (\n"
        "  SELECT rn - 1 AS centroid_id, vec_id AS cent_vid FROM (\n"
        "    SELECT vec_id, ROW_NUMBER() OVER (\n"
        "      ORDER BY MD5(CAST(vec_id AS VARCHAR) || ':42'), vec_id) AS rn\n"
        "    FROM embeddings\n"
        "  ) WHERE rn <= 16\n"
        "),\n"
        "adot AS (\n"
        "  SELECT a.vec_id AS vec_id, c.centroid_id, SUM(a.x * b.x) AS d\n"
        "  FROM ex a JOIN cent c ON TRUE\n"
        "  JOIN ex b ON b.vec_id = c.cent_vid AND b.i = a.i\n"
        "  GROUP BY a.vec_id, c.centroid_id\n"
        "),\n"
        "assign AS (\n"
        "  SELECT vec_id, centroid_id FROM (\n"
        "    SELECT vec_id, centroid_id, ROW_NUMBER() OVER (\n"
        "      PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn\n"
        "    FROM adot) WHERE rn = 1\n"
        "),\n"
        "probes AS (\n"
        "  SELECT vec_id AS query_id, centroid_id FROM (\n"
        "    SELECT vec_id, centroid_id, ROW_NUMBER() OVER (\n"
        "      PARTITION BY vec_id ORDER BY d DESC, centroid_id) AS rn\n"
        "    FROM adot WHERE vec_id < 16) WHERE rn <= 4\n"
        "),\n"
        "cand AS (\n"
        "  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id\n"
        "  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id\n"
        "  WHERE p.query_id <> a.vec_id\n"
        "),\n"
        "dots AS (\n"
        "  SELECT c.query_id, c.neighbor_id, SUM(a.x * b.x) AS dot\n"
        "  FROM cand c JOIN ex a ON a.vec_id = c.query_id\n"
        "  JOIN ex b ON b.vec_id = c.neighbor_id AND b.i = a.i\n"
        "  GROUP BY c.query_id, c.neighbor_id\n"
        "),\n"
        "scored AS (\n"
        "  SELECT query_id, neighbor_id,\n"
        "         FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 AS sim\n"
        "  FROM dots JOIN norms na ON na.vec_id = query_id\n"
        "            JOIN norms nb ON nb.vec_id = neighbor_id\n"
        ")\n"
        "SELECT query_id, rank, neighbor_id, sim FROM (\n"
        "  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank\n"
        "  FROM scored\n"
        ") WHERE rank <= 5",
        "knn_lsh": f"WITH {_sql_lsh_buckets(2, 6)},\n{_SQL_EMB},\n"
        "cand AS (\n"
        "  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id\n"
        "  FROM buckets qb JOIN buckets cb ON cb.t = qb.t AND cb.bucket = qb.bucket\n"
        "  WHERE qb.vec_id < 16 AND cb.vec_id <> qb.vec_id\n"
        "),\n"
        "dots AS (\n"
        "  SELECT c.query_id, c.neighbor_id, SUM(a.x * b.x) AS dot\n"
        "  FROM cand c JOIN ex a ON a.vec_id = c.query_id\n"
        "  JOIN ex b ON b.vec_id = c.neighbor_id AND b.i = a.i\n"
        "  GROUP BY c.query_id, c.neighbor_id\n"
        "),\n"
        "scored AS (\n"
        "  SELECT query_id, neighbor_id,\n"
        "         FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 AS sim\n"
        "  FROM dots JOIN norms na ON na.vec_id = query_id\n"
        "            JOIN norms nb ON nb.vec_id = neighbor_id\n"
        ")\n"
        "SELECT query_id, rank, neighbor_id, sim FROM (\n"
        "  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank\n"
        "  FROM scored\n"
        ") WHERE rank <= 5",
        "embedding_neardup_lsh": f"WITH {_sql_lsh_buckets(1, 4)},\n{_SQL_EMB},\n"
        "pairs AS (\n"
        "  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b\n"
        "  FROM buckets l JOIN buckets r ON r.bucket = l.bucket\n"
        "  WHERE l.vec_id < r.vec_id\n"
        "),\n"
        "dots AS (\n"
        "  SELECT p.a, p.b, SUM(x.x * y.x) AS dot\n"
        "  FROM pairs p JOIN ex x ON x.vec_id = p.a\n"
        "  JOIN ex y ON y.vec_id = p.b AND y.i = x.i\n"
        "  GROUP BY p.a, p.b\n"
        ")\n"
        "SELECT a, b, FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 AS sim\n"
        "FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b\n"
        "WHERE FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 > 0.35",
        "embedding_neardup": f"WITH {_SQL_EMB},\n"
        "dots AS (\n"
        "  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS dot\n"
        "  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id\n"
        "  GROUP BY a.vec_id, b.vec_id\n"
        ")\n"
        "SELECT a, b, FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 AS sim\n"
        "FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b\n"
        "WHERE FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0 > 0.4",
        "sessions": """
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         EPOCH_US(ts) AS us,
         LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM seq
),
sess AS (
  SELECT user_id, value, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MAX(us) - MIN(us) AS duration_us,
       FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS total_value
FROM sess GROUP BY user_id, session_id""",
        "simhash": f"WITH {_SQL_SIMHASH_SIG}\n"
        "SELECT doc_id, simhash FROM sig",
        "simhash_pairs": f"""
WITH {_SQL_SIMHASH_SIG},
bands AS (
  SELECT doc_id, t.band AS band,
         SUBSTRING(simhash, t.band * 4 + 1, 4) AS key
  FROM sig, RANGE(4) t(band)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
withsig AS (
  SELECT c.a, c.b, sa.simhash AS sa, sb.simhash AS sb
  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
)
SELECT a, b, hamming FROM (
  SELECT a, b,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(16),
              i -> CASE WHEN sa[i + 1] <> sb[i + 1] THEN 1 ELSE 0 END)) AS INT)
           AS hamming
  FROM withsig
) WHERE hamming <= 3""",
        "simhash_dedup": f"""
WITH {_SQL_SIMHASH_SIG},
bands AS (
  SELECT doc_id, t.band AS band,
         SUBSTRING(simhash, t.band * 4 + 1, 4) AS key
  FROM sig, RANGE(4) t(band)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
losers AS (
  SELECT DISTINCT c.b
  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
  WHERE CAST(LIST_SUM(LIST_TRANSFORM(RANGE(16),
        i -> CASE WHEN sa.simhash[i + 1] <> sb.simhash[i + 1]
                  THEN 1 ELSE 0 END)) AS INT) <= 3
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b FROM losers)""",
        "events_json": "SELECT event_type, COUNT(*) AS n,\n"
        "       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,\n"
        "       MIN(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS min_k,\n"
        "       MAX(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS max_k\n"
        "FROM events GROUP BY event_type",
        **_SQL_TPCH,
    }
    # cascade-local variants compute the SAME results as the generic
    # paths (conversation-disjointness makes per-block computation
    # per-subgraph computation), so they share oracles verbatim
    for name in ("pagerank", "components", "labelprop", "triangles"):
        d[f"{name}_cascade"] = d[name]
    # the KMV merge is an exact monoid (merge(sketch(X), sketch(Y)) ==
    # sketch(X ∪ Y)), so the partial-sketch rollup path shares the
    # direct-estimate oracle verbatim
    d["kmv_rollup"] = d["kmv"]
    # streamed SCD2 == batch SCD2 by the stream==batch contract (the
    # open version is carried in keyed state across micro-batches)
    d["stream_scd2"] = d["scd2"]
    # stream==batch: per-bucket SUM monoid (streaming/windows.py::
    # stream_hist_quantiles) — same oracle as the batch sketch entry
    d["stream_histq"] = d["hist_quantiles"]
    # stream==batch: score-group (cnt, pos) SUM monoids
    # (streaming/windows.py::stream_roc_auc) — same oracle as `auc`
    d["stream_auc"] = d["auc"]
    # stream==batch: per-user SUM-monoid state drains to the same
    # per-user totals, so the oracle IS the batch KS SQL
    d["stream_ks"] = d["ks_test"]
    # stream==batch: contingency-cell SUM monoid — batch chi2 SQL
    d["stream_chi2"] = d["chi2"]
    # stream==batch: nine digit counts are a SUM monoid — batch SQL
    d["stream_benford"] = d["benford"]
    # stream==batch: bucket-count SUM monoids (stream_calibration)
    d["stream_calibration"] = d["calibration"]
    # the count-min grid is a commutative monoid: the grid drained from
    # the streaming state store equals the batch cms_sketch grid
    # bit-for-bit, so streamed heavy hitters share the batch oracle
    d["stream_hh"] = d["heavy_hitters"]
    # duplicated-substring spans (dedup.py::duplicate_spans): same
    # normalized tokenization, 5-gram md5s at positions 0..n-5,
    # corpus-wide >=2 filter, per-doc gap/island interval merge
    d["dup_spans"] = """
WITH ntext AS (
  SELECT doc_id, TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
tk AS (
  SELECT doc_id,
         CASE WHEN LENGTH(nt) = 0 THEN CAST([] AS VARCHAR[])
              ELSE STRING_SPLIT_REGEX(nt, '\\s+') END AS tk
  FROM ntext
),
g AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(LEN(tk) - 4),
            i -> CAST(i AS VARCHAR) || '@'
                 || MD5(ARRAY_TO_STRING(tk[i + 1 : i + 5], ' ')))) AS e
  FROM tk WHERE LEN(tk) >= 5
),
gp AS (
  SELECT doc_id,
         CAST(STRING_SPLIT(e, '@')[1] AS BIGINT) AS pos,
         STRING_SPLIT(e, '@')[2] AS h
  FROM g
),
dup AS (SELECT h FROM gp GROUP BY h HAVING COUNT(*) >= 2),
f AS (SELECT doc_id, pos FROM gp WHERE h IN (SELECT h FROM dup)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 5) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM f
),
isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM m
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 5 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island"""
    # bucketed co-located join: bucketing changes the PLAN (no
    # exchange), never the RESULT — the oracle is the plain join
    d["bucketed_join"] = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""
    # zone-map skipping: pruning changes which FILES are opened, never
    # the RESULT — the oracle is the plain interval filter
    d["zone_skip"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM events WHERE event_id BETWEEN 2500 AND 4999
GROUP BY event_type"""
    # MAD outliers: QUANTILE_CONT == Spark percentile (linear
    # interpolation, the quantiles-entry contract); integer inputs
    # make every median an exact 0.5-multiple => 2x BIGINTs
    d["mad"] = """
WITH pts AS MATERIALIZED (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
),
med AS MATERIALIZED (
  SELECT event_type, QUANTILE_CONT(v, 0.5) AS med
  FROM pts GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT p.event_type, p.v, m.med, ABS(p.v - m.med) AS dev
  FROM pts p JOIN med m USING (event_type)
),
mad AS MATERIALIZED (
  SELECT event_type, QUANTILE_CONT(dev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(d.med) * 2 AS BIGINT) AS med2x,
       CAST(MIN(m.mad) * 2 AS BIGINT) AS mad2x,
       CAST(SUM(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type"""
    # k-anonymity ladder: all three generalization levels computed,
    # the first level with zero below-k classes selected by the same
    # rule the engine applies (integer // truncates toward zero in
    # BOTH engines, incl. negative balances — verified)
    d["kanon"] = """
WITH base AS MATERIALIZED (
  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
),
l0 AS MATERIALIZED (
  SELECT seg, nat, cents // 100000 AS bal, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2, 3
),
l1 AS MATERIALIZED (
  SELECT seg, nat - nat % 5 AS nat, cents // 1000000 AS bal,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2, 3
),
l2 AS MATERIALIZED (
  SELECT seg, CAST(0 AS BIGINT) AS nat, CAST(0 AS BIGINT) AS bal,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1
),
sel AS MATERIALIZED (
  SELECT CASE WHEN (SELECT COUNT(*) FROM l0 WHERE n < 5) = 0 THEN 0
              WHEN (SELECT COUNT(*) FROM l1 WHERE n < 5) = 0 THEN 1
              ELSE 2 END AS lvl
),
allv AS (
  SELECT 0 AS lvl, * FROM l0
  UNION ALL SELECT 1, * FROM l1
  UNION ALL SELECT 2, * FROM l2
)
SELECT CAST(a.lvl AS INT) AS level, seg, nat, bal, n
FROM allv a JOIN sel s ON a.lvl = s.lvl"""
    # grouped OLS trend: exact BIGINT moments; the single final float
    # division of two exact integers is IEEE-identical across engines
    d["trend"] = """
WITH pts AS MATERIALIZED (
  SELECT user_id,
         EPOCH_US(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
reb AS MATERIALIZED (
  SELECT user_id,
         day - MIN(day) OVER (PARTITION BY user_id) AS x,
         cents AS y
  FROM pts
),
s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM reb GROUP BY user_id
)
SELECT user_id, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS den,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope
FROM s"""
    # grouped autocorrelation (regress.py::grouped_acf): per-lag LEAD
    # arms, exact integer cross-multiplied moments, one IEEE division
    lead_arms = "\nUNION ALL ".join(
        f"SELECT user_id, y, {k} AS lag,\n"
        f"       LEAD(y, {k}) OVER (PARTITION BY user_id"
        f" ORDER BY us, event_id) AS yl FROM reb"
        for k in (1, 2, 3)
    )
    d["acf"] = f"""
WITH pts AS MATERIALIZED (
  SELECT user_id, EPOCH_US(ts) AS us, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y0
  FROM events
),
reb AS MATERIALIZED (
  SELECT user_id, us, event_id,
         y0 - MIN(y0) OVER (PARTITION BY user_id) AS y
  FROM pts
),
led AS MATERIALIZED (
{lead_arms}
),
pair AS (
  SELECT user_id, lag, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(y * yl) AS BIGINT) AS syy,
         CAST(SUM(y + yl) AS BIGINT) AS sy2
  FROM led WHERE yl IS NOT NULL GROUP BY user_id, lag
),
tot AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS ss
  FROM reb GROUP BY user_id
)
SELECT p.user_id, CAST(p.lag AS INT) AS lag, p.m,
       CAST(t.n * t.n * p.syy - t.n * t.s * p.sy2 + p.m * t.s * t.s
            AS BIGINT) AS num,
       CAST(t.n * t.n * t.ss - t.n * t.s * t.s AS BIGINT) AS den,
       CASE WHEN t.n * t.n * t.ss - t.n * t.s * t.s = 0 THEN NULL
            ELSE CAST(t.n * t.n * p.syy - t.n * t.s * p.sy2
                      + p.m * t.s * t.s AS DOUBLE)
                 / CAST(t.n * t.n * t.ss - t.n * t.s * t.s AS DOUBLE)
       END AS r
FROM pair p JOIN tot t ON t.user_id = p.user_id"""
    # 2-D skyline: the oracle is the textbook O(n²) NOT-EXISTS
    # dominance self-join over the per-(day,cents) reduction; the
    # engine's linear prefix-min plan must produce the same frontier
    d["skyline"] = """
WITH f AS MATERIALIZED (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS day,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT day, cents, n FROM f p
WHERE NOT EXISTS (
  SELECT 1 FROM f q
  WHERE q.day <= p.day AND q.cents <= p.cents
    AND (q.day < p.day OR q.cents < p.cents)
)"""
    # daily resample + forward fill: last-per-bucket via the shared
    # LPAD ord_key (ARG_MAX has no struct keys), spine via constant
    # lateral RANGE (a column bound can't parameterize RANGE here),
    # fill via the same count-prefix group idiom the engine uses
    d["resample"] = """
WITH obs AS MATERIALIZED (
  SELECT user_id, EPOCH_US(ts) // 86400000000 AS day,
         ARG_MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                 LPAD(CAST(EPOCH_US(ts) AS VARCHAR), 20, '0') || ':' ||
                 LPAD(CAST(event_id AS VARCHAR), 20, '0')) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY user_id
),
spine AS (
  SELECT user_id, mn + i AS day
  FROM bounds, RANGE(366) r(i) WHERE mn + i <= mx
),
j AS (
  SELECT s.user_id, s.day, o.cents,
         COUNT(o.cents) OVER (PARTITION BY s.user_id ORDER BY s.day) AS grp
  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
)
SELECT user_id, day,
       MAX(cents) OVER (PARTITION BY user_id, grp) AS cents
FROM j"""
    # incremental view maintenance: the oracle recomputes the rollup
    # over the APPLIED snapshot (the cdc_apply pipeline + GROUP BY);
    # the engine only ever touches deltas and the maintained view
    d["ivm"] = """
WITH base AS MATERIALIZED (
  SELECT c_custkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         c_mktsegment
  FROM customer
),
ch AS MATERIALIZED (
  SELECT user_id + 1 AS c_custkey,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS bal_cents,
         event_type AS c_mktsegment,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         CAST(EPOCH_US(ts) AS BIGINT) AS v_us,
         event_id AS v_seq
  FROM events
),
fr AS MATERIALIZED (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (
      PARTITION BY c_custkey ORDER BY v_us DESC, v_seq DESC) AS rk
    FROM ch
  ) WHERE rk = 1
),
applied AS MATERIALIZED (
  SELECT b.c_mktsegment, b.bal_cents FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM fr WHERE fr.c_custkey = b.c_custkey)
  UNION ALL
  SELECT c_mktsegment, bal_cents FROM fr WHERE op = 'U'
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(bal_cents) AS BIGINT) AS bal_cents
FROM applied GROUP BY c_mktsegment"""
    # CDC apply_changes (diff.py::apply_changes): frontier = latest
    # change per key by (ts micros, event_id); winning 'D' removes the
    # key, winning 'U' replaces the payload, untouched base survives
    d["cdc_apply"] = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         c_mktsegment
  FROM customer
),
ch AS (
  SELECT user_id + 1 AS c_custkey,
         'u' || CAST(user_id AS VARCHAR) AS c_name,
         CAST(user_id % 25 AS INT) AS c_nationkey,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS bal_cents,
         event_type AS c_mktsegment,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         CAST(EPOCH_US(ts) AS BIGINT) AS v_us,
         event_id AS v_seq
  FROM events
),
fr AS (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (
      PARTITION BY c_custkey ORDER BY v_us DESC, v_seq DESC) AS rk
    FROM ch
  ) WHERE rk = 1
)
SELECT b.* FROM base b
WHERE NOT EXISTS (SELECT 1 FROM fr WHERE fr.c_custkey = b.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, bal_cents, c_mktsegment
FROM fr WHERE op = 'U'"""
    # full-batch logistic training (train.py::logistic_train): the 3
    # gradient rounds unrolled; every CTE MATERIALIZED (f is joined
    # twice per round — inlining would re-expand it exponentially);
    # all-integer math, positive-operand // matches Spark's div
    _tr = """
WITH lab AS MATERIALIZED (
  SELECT event_id AS row_id,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS BIGINT) AS y,
         MD5('0:event_type=' ||
             COALESCE(CAST(event_type AS VARCHAR), CHR(0) || 'NULL'))
           AS h0,
         MD5('1:user_id=' ||
             COALESCE(CAST(user_id AS VARCHAR), CHR(0) || 'NULL'))
           AS h1
  FROM events
),
f AS MATERIALIZED (
  SELECT row_id, y, CAST(({H0}) % 16 AS BIGINT) AS j,
         CAST(CASE WHEN ({H0}) % 32 >= 16 THEN -1 ELSE 1 END
              AS BIGINT) AS sgn
  FROM lab
  UNION ALL
  SELECT row_id, y, CAST(({H1}) % 16 AS BIGINT) AS j,
         CAST(CASE WHEN ({H1}) % 32 >= 16 THEN -1 ELSE 1 END
              AS BIGINT) AS sgn
  FROM lab
),
nr AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events
),
w0 AS MATERIALIZED (
  SELECT CAST(i AS BIGINT) AS j, CAST(0 AS BIGINT) AS w FROM RANGE(16) r(i)
)"""
    for r in range(1, 4):
        _tr += f""",
z{r} AS MATERIALIZED (
  SELECT row_id, y, CAST(SUM(sgn * w) AS BIGINT) AS z
  FROM f JOIN w{r - 1} USING (j) GROUP BY row_id, y
),
e{r} AS MATERIALIZED (
  SELECT row_id,
         CAST((10000 * (1000 + ABS(z) + z)) // (2 * (1000 + ABS(z)))
              - y * 10000 AS BIGINT) AS err
  FROM z{r}
),
g{r} AS MATERIALIZED (
  SELECT j, CAST(SUM(err * sgn) AS BIGINT) AS g
  FROM f JOIN e{r} USING (row_id) GROUP BY j
),
w{r} AS MATERIALIZED (
  SELECT w{r - 1}.j,
         CAST(w{r - 1}.w
              - (CASE WHEN COALESCE(g, 0) > 0 THEN 1
                      WHEN COALESCE(g, 0) < 0 THEN -1 ELSE 0 END)
              * ((1 * ABS(COALESCE(g, 0)) * 1000)
                 // (4 * n_rows * 10000)) AS BIGINT) AS w
  FROM w{r - 1} LEFT JOIN g{r} ON w{r - 1}.j = g{r}.j CROSS JOIN nr
)"""
    _tr += "\nSELECT j, w FROM w3"
    d["train_logistic"] = _tr.replace("{H0}", _hex15_num("h0")).replace(
        "{H1}", _hex15_num("h1")
    )
    # BPE merge-rule training (bpetrain.py::bpe_train): 5 rounds
    # unrolled; states MATERIALIZED (each feeds pair counting AND the
    # next rewrite); literal REPLACE of the paren-framed pair is
    # leftmost-non-overlapping in both engines
    _bpe = _sql_bpe_chain(5) + (
        "\n"
        + "\nUNION ALL\n".join(
            f"SELECT CAST({r} AS INT) AS merge_round, lhs, rhs, cnt FROM t{r}"
            for r in range(1, 6)
        )
    )
    d["bpe_train"] = _bpe
    # BPE encode (bpetrain.py::bpe_encode): the APPLY half — every
    # word occurrence joins the final trained state s5 (the merged
    # form of a word IS its encoding under the learned rules); token
    # count = '(' count of the merged string
    d["bpe_encode"] = _sql_bpe_chain(5) + """,
docw AS MATERIALIZED (
  SELECT doc_id, tok AS word FROM (
    SELECT doc_id,
           UNNEST(STRING_SPLIT_REGEX(
             TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')),
             '\\s+')) AS tok
    FROM documents
  ) u WHERE tok <> ''
)
SELECT d.doc_id,
       CAST(SUM(LENGTH(s.s) - LENGTH(REPLACE(s.s, '(', ''))) AS BIGINT)
         AS n_tokens
FROM docw d JOIN s5 s ON d.word = s.word
GROUP BY d.doc_id"""
    # ANN quality gate: the exact and IVF oracle pipelines verbatim as
    # CTEs, intersected per query — n_hit exact BIGINT, recall one IEEE
    # division by k=5
    d["ann_recall"] = f"""
WITH exact AS (SELECT * FROM ({d["knn"]})),
approx AS (SELECT * FROM ({d["knn_ivf"]})),
hits AS (
  SELECT e.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit
  FROM exact e LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT query_id, n_hit, CAST(n_hit AS DOUBLE) / 5 AS recall FROM hits"""
    # streamed min-vector state == the batch funnel: same oracle verbatim
    d["stream_funnel"] = d["funnel"]
    # time-to-convert: first-touch min-vector + type-1 order statistics
    d["stage_latency"] = """
WITH mins AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN EPOCH_US(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN EPOCH_US(ts) END) AS t1
  FROM events GROUP BY user_id),
conv AS (SELECT t1 - t0 AS d FROM mins
         WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0),
r AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn,
             COUNT(*) OVER () AS n FROM conv),
nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_from
       FROM mins WHERE t0 IS NOT NULL)
SELECT nf.n_from,
       CAST(MAX(r.n) AS BIGINT) AS n_converted,
       CAST(MIN(d) AS BIGINT) AS min_us,
       CAST(MIN(CASE WHEN rn * 2 >= n THEN d END) AS BIGINT) AS p50_us,
       CAST(MIN(CASE WHEN rn * 10 >= n * 9 THEN d END) AS BIGINT) AS p90_us,
       CAST(MAX(d) AS BIGINT) AS max_us
FROM r, nf GROUP BY nf.n_from"""
    # Katz centrality: exact BIGINT fixed-point recurrence, one IEEE
    # division at the end (operators/katz.py)
    d["katz"] = _sql_katz()
    # streamed delta propagation == the batch IVM: same full-recompute
    # oracle verbatim (streaming/ivm.py)
    d["stream_ivm"] = d["ivm"]
    # streamed per-epoch MERGE INTO == the one-shot batch apply: same
    # oracle verbatim (streaming/merge.py)
    d["stream_merge"] = d["cdc_apply"]
    # out-of-order late data (streaming/late.py): Spark's measured
    # watermark semantics as a pure batch filter — per-arrival-batch
    # ms-floored running max with a ONE-BATCH lag for the strict late
    # filter (rows with window end <= that watermark drop), final
    # watermark for the append-mode emit cut. Slicing/permutation
    # mirror _LATE_ORDER / write_shuffled_chunks exactly.
    d["stream_late"] = """
WITH f AS (
  SELECT event_type, value, EPOCH_US(ts) AS us, event_id,
         ROW_NUMBER() OVER (ORDER BY EPOCH_US(ts), event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
),
s AS (
  SELECT event_type, value, us,
         (rn - 1) // ((n + 5) // 6) AS slice
  FROM f
),
a AS (
  SELECT event_type, value, us,
         CASE slice WHEN 2 THEN 0 WHEN 0 THEN 1 WHEN 4 THEN 2
                    WHEN 1 THEN 3 WHEN 5 THEN 4 WHEN 3 THEN 5 END AS b
  FROM s
),
bm AS (SELECT b, MAX(us) // 1000 AS bmax_ms FROM a GROUP BY b),
wm AS (
  SELECT b,
         (MAX(bmax_ms) OVER (ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
          - 518400000) * 1000 AS wm_us
  FROM bm
),
fw AS (SELECT (MAX(bmax_ms) - 518400000) * 1000 AS final_wm FROM bm),
acc AS (
  SELECT a.event_type, a.value,
         a.us - a.us % 3600000000 AS ws
  FROM a JOIN wm ON wm.b = a.b, fw
  WHERE (wm.wm_us IS NULL
         OR a.us - a.us % 3600000000 + 3600000000 > wm.wm_us)
    AND a.us - a.us % 3600000000 + 3600000000 <= fw.final_wm
)
SELECT CAST(ws // 1000000 AS BIGINT) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM acc
GROUP BY 1, 2"""
    # bridges / 2ECC: the exact recursive-CTE twin of
    # operators/bridges.py (BFS forest, closure, LCA crossing counts)
    d["bridges"] = _sql_bridges()
    # cascade-local kernel must equal the generic path bit for bit
    d["bridges_cascade"] = _sql_bridges()
    d["ecc2"] = _sql_ecc2()
    # biconnected components / articulation points: the fundamental-
    # cycle star reduction twin of operators/blocks.py
    d["blocks"] = _sql_blocks()
    d["articulation"] = _sql_articulation()
    d["block_cut_tree"] = (
        _sql_blocks_core()
        + """,
binc AS MATERIALIZED (
  SELECT DISTINCT x AS vid, block FROM (
    SELECT u AS x, block FROM eblocks
    UNION ALL SELECT v AS x, block FROM eblocks)
),
bcuts AS MATERIALIZED (
  SELECT vid FROM binc GROUP BY vid HAVING COUNT(DISTINCT block) >= 2
)
SELECT CAST(i.vid AS BIGINT) AS vid, CAST(i.block AS BIGINT) AS block
FROM binc i JOIN bcuts c ON c.vid = i.vid"""
    )
    # condensation DAG + its longest-path layering: the recursive
    # reachability closure of the scc oracle, then cross-SCC distinct
    # pairs / max chain depth per node
    _scc_core = f"""WITH RECURSIVE {_SQL_SUCCESSION},
verts AS MATERIALIZED (SELECT src AS v FROM g UNION SELECT dst FROM g),
reach AS (
  SELECT src AS a, dst AS b FROM g
  UNION
  SELECT r.a, g.dst AS b FROM reach r JOIN g ON g.src = r.b
),
mutual AS (
  SELECT r1.a, r1.b
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
sccof AS MATERIALIZED (
  SELECT v.v AS vid, LEAST(v.v, COALESCE(MIN(m.b), v.v)) AS scc
  FROM verts v LEFT JOIN mutual m ON m.a = v.v
  GROUP BY v.v
),
cond AS MATERIALIZED (
  SELECT DISTINCT a.scc AS s, b.scc AS t
  FROM g JOIN sccof a ON a.vid = g.src JOIN sccof b ON b.vid = g.dst
  WHERE a.scc <> b.scc
)"""
    # 1-WL refinement: 2 rounds unrolled, STRING_AGG(... ORDER BY) ==
    # sort_array(collect_list), md5 -> 60-bit int via the INSTR idiom
    _wl_parts = [
        f"""WITH {_SQL_EVID},
wund AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e WHERE src <> dst
),
wadj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM wund UNION ALL SELECT v, u FROM wund
),
wc0 AS MATERIALIZED (
  SELECT a AS vid, CAST(COUNT(*) AS BIGINT) AS color
  FROM wadj GROUP BY a
)"""
    ]
    for _r in (1, 2):
        _p = _r - 1
        _wl_parts.append(
            f""",
ws{_r} AS MATERIALIZED (
  SELECT wadj.a AS vid,
         STRING_AGG(CAST(c.color AS VARCHAR), ',' ORDER BY c.color) AS nbrs
  FROM wadj JOIN wc{_p} c ON c.vid = wadj.b GROUP BY wadj.a
),
wh{_r} AS MATERIALIZED (
  SELECT s.vid, MD5(CAST(o.color AS VARCHAR) || '|' || s.nbrs) AS h
  FROM ws{_r} s JOIN wc{_p} o ON o.vid = s.vid
),
wc{_r} AS MATERIALIZED (
  SELECT vid, CAST(({_hex15_num('h')}) AS BIGINT) AS color FROM wh{_r}
)"""
        )
    d["wl_colors"] = "".join(_wl_parts) + "\nSELECT vid, color FROM wc2"
    # streamed 2-hop-ball recolor == the batch refinement: same oracle
    d["stream_wl"] = d["wl_colors"]
    # 2-approx vertex cover = distinct endpoints of the 4-round matching
    # schema evolution: the widened-union rollup derived analytically
    d["schema_evolution"] = """
SELECT c_mktsegment AS segment,
       CASE WHEN c_custkey % 3 <> 0 THEN NULL
            WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'basic'
       END AS loyalty_tier,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer
GROUP BY 1, 2"""
    # end-to-end ER: the same construction -> ED1 pairs -> recursive
    # min-label clustering -> survivorship idioms as the golden oracle
    d["er_pipeline"] = """
WITH RECURSIVE clean AS (
  SELECT c_custkey AS key,
         SUBSTRING(MD5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         c_mktsegment AS segment, CAST(1 AS BIGINT) AS ver
  FROM customer
),
dirty AS (
  SELECT c_custkey + 1000000000 AS key,
         SUBSTRING(MD5(CAST(c_custkey AS VARCHAR)), 1, 12) || 'x' AS name,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 5 AS bal_cents,
         c_mktsegment AS segment, CAST(2 AS BIGINT) AS ver
  FROM customer WHERE c_custkey % 7 = 0
),
recs AS MATERIALIZED (
  SELECT * FROM clean UNION ALL SELECT * FROM dirty
),
sf AS (SELECT DISTINCT name AS s FROM recs),
ex AS (
  SELECT DISTINCT s,
         CASE WHEN r.i = 0 THEN s
              ELSE SUBSTRING(s, 1, r.i - 1) || SUBSTRING(s, r.i + 1)
         END AS v
  FROM sf, RANGE(14) r(i) WHERE r.i <= LENGTH(s)
),
cand AS (
  SELECT DISTINCT a.s AS s1, b.s AS s2
  FROM ex a JOIN ex b ON a.v = b.v WHERE a.s < b.s
),
prs AS MATERIALIZED (
  SELECT s1, s2 FROM cand WHERE LEVENSHTEIN(s1, s2) = 1
),
eg AS MATERIALIZED (
  SELECT k1.key AS a, k2.key AS b
  FROM prs JOIN recs k1 ON k1.name = prs.s1
           JOIN recs k2 ON k2.name = prs.s2
),
eadj AS (SELECT a, b FROM eg UNION ALL SELECT b, a FROM eg),
elab AS (
  SELECT key AS node, key AS lab FROM recs
  UNION
  SELECT eadj.b AS node, l.lab FROM elab l JOIN eadj ON eadj.a = l.node
),
clus AS MATERIALIZED (
  SELECT node AS key, MIN(lab) AS cluster FROM elab GROUP BY node
),
lr AS MATERIALIZED (
  SELECT c.cluster, r.name, r.bal_cents, r.segment, r.ver,
         LPAD(CAST(r.ver AS VARCHAR), 20, '0') || ':' ||
         LPAD(CAST(r.key AS VARCHAR), 20, '0') AS k
  FROM recs r JOIN clus c ON c.key = r.key
),
base AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_records,
         CAST(MIN(ver) AS BIGINT) AS first_us,
         CAST(MAX(ver) AS BIGINT) AS last_us,
         ARG_MAX(name, k) AS latest_name,
         CAST(ARG_MAX(bal_cents, k) AS BIGINT) AS latest_bal_cents
  FROM lr GROUP BY cluster
),
scnt AS (
  SELECT cluster, segment, COUNT(*) AS n FROM lr GROUP BY 1, 2
),
md AS (
  SELECT cluster,
         ARG_MIN(segment,
                 LPAD(CAST(1000000000000 - n AS VARCHAR), 13, '0')
                 || ':' || segment) AS mode_segment
  FROM scnt GROUP BY 1
)
SELECT base.*, md.mode_segment FROM base LEFT JOIN md USING (cluster)"""
    d["vertex_cover"] = (
        "WITH mm AS MATERIALIZED (\n"
        + _sql_matching(rounds=4)
        + "\n)\nSELECT DISTINCT vid FROM ("
        "SELECT u AS vid FROM mm UNION ALL SELECT v FROM mm)"
    )
    # streamed incremental contraction == the batch components run:
    # same oracle verbatim (streaming/graph.py)
    d["stream_components"] = d["components"]
    # streamed incremental triangle maintenance == the batch count:
    # same oracle verbatim (streaming/graph.py::TriangleMaintainer)
    d["stream_triangles"] = d["triangles"]
    # ORC round-trip: same rollup straight from the parquet feed —
    # integer cents/micros survive the format exactly
    # deterministic BFS forest: the bridges-core par/dist/roots chain
    d["spanning_forest"] = (
        _sql_bridges_core()
        + """
SELECT CAST(d.vid AS BIGINT) AS vid,
       CAST(MIN(r.vid) OVER (PARTITION BY d.vid // 100000) AS BIGINT)
         AS comp,
       CAST(d.dist AS INT) AS dist,
       CAST(p.parent AS BIGINT) AS parent
FROM dist d
LEFT JOIN par p ON p.vid = d.vid
LEFT JOIN roots r ON r.vid = d.vid"""
    )
    # exact quantized Gram accumulator: micro-unit ints, upper triangle
    d["embedding_gram"] = """
SELECT i, j, CAST(SUM(qi * qj) AS BIGINT) AS dot,
       CAST(SUM(qi) AS BIGINT) AS sum_i,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT CAST(r1.i AS INT) AS i, CAST(r2.i AS INT) AS j,
         CAST(FLOOR(CAST(embedding[r1.i + 1] AS DOUBLE) * 1000000.0
                    + 0.5) AS BIGINT) AS qi,
         CAST(FLOOR(CAST(embedding[r2.i + 1] AS DOUBLE) * 1000000.0
                    + 0.5) AS BIGINT) AS qj
  FROM embeddings, RANGE(64) r1(i), RANGE(64) r2(i)
  WHERE r2.i >= r1.i
)
GROUP BY i, j"""
    d["orc_roundtrip"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(MIN(EPOCH_US(ts)) AS BIGINT) AS min_us,
       CAST(MAX(EPOCH_US(ts)) AS BIGINT) AS max_us
FROM events WHERE event_type <> 'click'
GROUP BY event_type"""
    d["condensation"] = (
        _scc_core
        + "\nSELECT CAST(s AS BIGINT) AS src_scc, "
        "CAST(t AS BIGINT) AS dst_scc FROM cond"
    )
    d["dag_layers"] = (
        _scc_core
        + """,
chains AS (
  SELECT scc AS node, 0 AS dep FROM (SELECT DISTINCT scc FROM sccof)
  UNION
  SELECT c.t AS node, p.dep + 1 AS dep
  FROM chains p JOIN cond c ON c.s = p.node WHERE p.dep < 120
)
SELECT CAST(node AS BIGINT) AS scc, CAST(MAX(dep) AS BIGINT) AS layer
FROM chains GROUP BY node"""
    )
    return d


def _sql_bpe_chain(merges: int) -> str:
    """Shared unrolled BPE WITH-chain: words → framed s0 → per-round
    (pair counts p{r}, winner t{r}, rewritten state s{r}) — used by the
    bpe_train oracle (winners) and the bpe_encode oracle (final
    state)."""
    _bpe = """
WITH ntext AS MATERIALIZED (
  SELECT TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents
),
words AS MATERIALIZED (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(STRING_SPLIT_REGEX(nt, '\\s+')) AS tok
    FROM ntext WHERE LENGTH(nt) > 0
  ) u WHERE tok <> '' GROUP BY tok
),
s0 AS MATERIALIZED (
  SELECT word,
         ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(LENGTH(word)),
           i -> '(' || SUBSTRING(word, CAST(i + 1 AS INT), 1) || ')'),
           '') AS s,
         freq
  FROM words
)"""
    for r in range(1, merges + 1):
        _bpe += f""",
p{r} AS MATERIALIZED (
  SELECT STRING_SPLIT(pr, '@')[1] AS lhs, STRING_SPLIT(pr, '@')[2] AS rhs,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(syms) - 1),
             i -> syms[i + 1] || '@' || syms[i + 2])) AS pr, freq
    FROM (
      SELECT STRING_SPLIT(SUBSTRING(s, 2, LENGTH(s) - 2), ')(') AS syms,
             freq
      FROM s{r - 1}
    ) sy
  ) pp GROUP BY 1, 2
),
t{r} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{r} ORDER BY cnt DESC, lhs, rhs LIMIT 1
),
s{r} AS MATERIALIZED (
  SELECT word,
         REPLACE(s, '(' || lhs || ')(' || rhs || ')',
                 '(' || lhs || rhs || ')') AS s,
         freq
  FROM s{r - 1} CROSS JOIN t{r}
)"""
    return _bpe
