"""Seeded benchmark inputs, generated with numpy and written as parquet.

Two shapes, both independent of the engine's own generators so the
program under test never defines its own inputs:

- ``events``: the event-log schema of ``__spark_entry__.py``
  ``(event_id, ts, user_id, event_type, value, props)`` with the shape of
  the ``sf*`` testdata — users and the five event types drawn
  uniformly, timestamps strictly increasing with ``event_id``.
- ``transcripts``: the FIXTURES.md §1 transcripts table
  ``(conv_id, turn_idx, role, tool, ts)`` with the shape of
  ``crgp_spark.generator.synthetic_transcripts``: Pareto turns per
  conversation truncated to ``[min_turns, max_turns]``, 2-8 participants,
  every ~5th turn a tool turn, ``ts`` strictly increasing with
  ``turn_idx``. The conversation sizes are the distribution's quantiles
  rather than draws, so every seed has the same size profile and the
  seed moves only who holds which size, who speaks and when.

The same ``seed`` always gives byte-identical tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

#: 2024-01-01T00:00:00 in epoch microseconds (testdata origin)
_EVENTS_T0_US = 1_704_067_200_000_000
#: 2020-01-01T00:00:00 in epoch seconds (synthetic_transcripts origin)
_TRANSCRIPTS_T0_S = 1_577_836_800


def events(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    gaps = rng.integers(1, 60_000_000, n_events)  # 1 µs .. 60 s
    k = rng.integers(0, 100, n_events)
    return pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": (_EVENTS_T0_US + np.cumsum(gaps)).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.random(n_events) * 100.0, 2),
            "props": [f'{{"k": {v}}}' for v in k],
        }
    )


def transcripts(
    seed: int,
    n_convs: int,
    alpha: float = 1.5,
    max_turns: int = 256,
    min_turns: int = 2,
    max_participants: int = 8,
) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    # size rank of each conversation: turn counts are the Pareto
    # quantiles at (rank + 0.5) / n, participant counts cycle with rank
    rank = rng.permutation(n_convs)
    u = (rank + 0.5) / n_convs
    n_turns = np.clip(
        np.floor(min_turns * u ** (-1.0 / alpha)), min_turns, max_turns
    ).astype(np.int64)
    n_parts = 2 + rank % (max_participants - 1)
    step_s = rng.integers(1, 61, n_convs)

    cid = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn = np.arange(len(cid), dtype=np.int64) - np.repeat(starts, n_turns)
    who = (rng.random(len(cid)) * np.repeat(n_parts, n_turns)).astype(np.int64)
    is_tool = (rng.integers(0, 5, len(cid)) == 0) & (turn > 0)
    agent = np.char.add("agent_", who.astype(str))
    ts_s = _TRANSCRIPTS_T0_S + cid % 86_400 + turn * np.repeat(step_s, n_turns)
    return pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(cid.astype(str), 8)),
            "turn_idx": turn.astype(np.int32),
            "role": np.where(is_tool, "assistant", agent),
            "tool": pd.Series(agent, dtype=object).where(is_tool, None),
            "ts": (ts_s * 1_000_000).astype("datetime64[us]"),
        }
    )
