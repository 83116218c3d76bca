"""Independent references for every timed layer call.

Nothing here imports ``crgp_spark``: the edge table comes from a DuckDB
query over the generated inputs, ranks from a numpy power iteration,
and the graph answers from ``tests/oracles.py`` and networkx. Each
reference is reduced to an order-insensitive digest (exact outputs) or
kept as arrays (ranks), so it can be cached per (workload, seed).
DuckDB, networkx and the oracles are imported where they are used, so
the Spark worker, which only needs ``digest``, does not load them before
its session is ready.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

#: vertex id of a turn: conversation number * VID_STRIDE + turn index
VID_STRIDE = 100_000

EDGE_COLS = ["conv_id", "src_turn", "src_participant", "dst_turn",
             "dst_participant", "ts", "orig_turn"]

# Same logical query as crgp_spark.derive.derive_edge_turns: an edge from
# every other activated participant of the conversation to each
# non-opening turn, kept when that participant activated strictly
# earlier or opened the conversation.
_DERIVE_SQL = """
WITH acts AS (
    SELECT conv_id, participant, MIN(turn_idx) AS act_turn,
           ARG_MIN(ts, turn_idx) AS act_ts
    FROM turns GROUP BY conv_id, participant
), orig AS (
    SELECT conv_id, MIN(turn_idx) AS orig_turn,
           ARG_MIN(participant, turn_idx) AS orig_participant
    FROM turns GROUP BY conv_id
)
SELECT t.conv_id, a.act_turn AS src_turn, a.participant AS src_participant,
       t.turn_idx AS dst_turn, t.participant AS dst_participant, t.ts,
       o.orig_turn
FROM turns t
JOIN orig o ON o.conv_id = t.conv_id
JOIN acts a ON a.conv_id = t.conv_id AND a.participant <> t.participant
WHERE t.turn_idx <> o.orig_turn
  AND (a.act_ts < t.ts OR a.participant = o.orig_participant)
"""

_EVENT_TURNS_SQL = """
SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
            AS INT) AS turn_idx,
       event_type AS participant, EPOCH_US(ts) AS ts
FROM events
"""

_TRANSCRIPT_TURNS_SQL = """
SELECT conv_id, turn_idx, COALESCE(NULLIF(tool, ''), role) AS participant,
       EPOCH_US(ts) AS ts
FROM transcripts
"""


def _derive(name: str, table: pd.DataFrame, turns_sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    con.register(name, table)
    con.execute(f"CREATE OR REPLACE TEMP VIEW turns AS {turns_sql}")
    return con.execute(_DERIVE_SQL).df()


def derive_from_events(events: pd.DataFrame) -> pd.DataFrame:
    return _derive("events", events, _EVENT_TURNS_SQL)


def derive_from_transcripts(transcripts: pd.DataFrame) -> pd.DataFrame:
    return _derive("transcripts", transcripts, _TRANSCRIPT_TURNS_SQL)


def vid(conv_id: pd.Series, turn: pd.Series) -> np.ndarray:
    conv = conv_id.str.slice(1).astype(np.int64).to_numpy()
    return conv * VID_STRIDE + turn.to_numpy().astype(np.int64)


def vertex_edges(edges: pd.DataFrame) -> pd.DataFrame:
    """``(src, dst, conv_id)`` in the benchmark's vertex ids."""
    return pd.DataFrame({
        "src": vid(edges["conv_id"], edges["src_turn"]),
        "dst": vid(edges["conv_id"], edges["dst_turn"]),
        "conv_id": edges["conv_id"].to_numpy(),
    })


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-insensitive digest of the rows of ``df[cols]``."""
    t = df[cols].copy()
    for c in cols:
        t[c] = t[c].astype(str) if t[c].dtype == object else t[c].astype(np.int64)
    t = t.sort_values(cols, kind="stable").reset_index(drop=True)
    h = pd.util.hash_pandas_object(t, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()


def pagerank(src: np.ndarray, dst: np.ndarray, alpha: float = 0.85,
             tol: float = 1e-6, max_iter: int = 500):
    """Power iteration with the formula of ``oracles.pagerank_oracle``,
    stopped at the scaled tolerance ``max |delta| < tol / n``. Returns
    ``(vids, ranks, k)`` with ``k`` the supersteps taken."""
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(vids)
    s, d = inv[: len(src)], inv[len(src):]
    outdeg = np.bincount(s, minlength=n)
    rank = np.full(n, 1.0 / n)
    for k in range(1, max_iter + 1):
        dangling = rank[outdeg == 0].sum()
        in_sum = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        new = (1 - alpha) / n + alpha * (in_sum + dangling / n)
        delta = np.abs(new - rank).max()
        rank = new
        if delta < tol / n:
            return vids, rank, k
    raise RuntimeError(f"reference PageRank did not converge in {max_iter}")


def _labels(d: dict[int, int], name: str) -> pd.DataFrame:
    return pd.DataFrame({"vid": list(d.keys()), name: list(d.values())})


def components(e: pd.DataFrame) -> str:
    from tests import oracles

    return digest(_labels(oracles.components_oracle(e), "component"),
                  ["vid", "component"])


def scc(e: pd.DataFrame) -> str:
    from tests import oracles

    return digest(_labels(oracles.scc_oracle(e), "scc"), ["vid", "scc"])


def labelprop(e: pd.DataFrame, n_iter: int) -> str:
    from tests import oracles

    return digest(_labels(oracles.label_propagation_oracle(e, n_iter), "label"),
                  ["vid", "label"])


def bfs(e: pd.DataFrame, sources: np.ndarray) -> str:
    import networkx as nx

    g = nx.DiGraph()
    g.add_edges_from(zip(e["src"].tolist(), e["dst"].tolist()))
    dist = nx.multi_source_dijkstra_path_length(g, set(sources.tolist()))
    return digest(_labels(dist, "dist"), ["vid", "dist"])


def bridges(e: pd.DataFrame) -> str:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(e["src"].tolist(), e["dst"].tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    b = np.array([sorted(p) for p in nx.bridges(g)], dtype=np.int64).reshape(-1, 2)
    return digest(pd.DataFrame({"u": b[:, 0], "v": b[:, 1]}), ["u", "v"])


def succession(events: pd.DataFrame, min_weight: int) -> pd.DataFrame:
    """Same graph as ``transitions.succession_graph``: ``src -> dst`` when
    ``dst`` acted right after ``src`` on one event type, kept at
    ``min_weight`` recurrences."""
    ev = events.sort_values(["event_type", "ts", "event_id"], kind="stable")
    nxt = ev.groupby("event_type", sort=False)["user_id"].shift(-1)
    pairs = pd.DataFrame({"src": ev["user_id"], "dst": nxt}).dropna()
    pairs["dst"] = pairs["dst"].astype(np.int64)
    pairs = pairs[pairs["src"] != pairs["dst"]]
    w = pairs.groupby(["src", "dst"]).size().reset_index(name="weight")
    return w[w["weight"] >= min_weight][["src", "dst"]].reset_index(drop=True)
