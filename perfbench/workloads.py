"""Workload definitions and their cached inputs and references.

A *case* is one (workload, seed) pair. ``prepare`` writes the case's
inputs as parquet plus its reference answers to a cache directory once;
later runs of the same case reuse them, so neither input generation nor
the reference computation is ever inside a measured interval.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

#: sizes are chosen so that one run of each workload, with its two
#: session set-ups, stays near a minute on a 4-core host
WORKLOADS = {
    # the sf0.01 shape of the __spark_entry__ event log, piped through the
    # reconstruction and the whole connectivity family
    "sf01_pipeline": {
        "n_events": 6_000,
        "n_users": 150,
        "pagerank_layer": "pagerank_df",
    },
    # Pareto-tailed transcripts whose largest conversations are salted
    # across sub-blocks
    "hub_cascades": {
        "n_convs": 2_000,
        "alpha": 1.2,
        "max_turns": 2048,
        "hub_degree_threshold": 400,
        "max_salt": 4,
        "labelprop_iterations": 5,
        "pagerank_layer": "pagerank_cascade",
    },
}

#: sf01_pipeline runs SCC on the succession graph at this edge weight
SCC_MIN_WEIGHT = 2


def _write_ranks(path: str, e) -> dict:
    import reference

    vids, ranks, k = reference.pagerank(e["src"].to_numpy(), e["dst"].to_numpy())
    np.savez(os.path.join(path, "ranks.npz"), vids=vids, ranks=ranks)
    return {"k_ref": k, "n_verts": len(vids)}


def _prepare_sf01(spec: dict, seed: int, path: str) -> dict:
    import inputs
    import reference

    ev = inputs.events(seed, spec["n_events"], spec["n_users"])
    ev.to_parquet(os.path.join(path, "events.parquet"), index=False)
    edges = reference.derive_from_events(ev)
    e = reference.vertex_edges(edges)
    sources = np.unique(reference.vid(edges["conv_id"], edges["orig_turn"]))
    succ = reference.succession(ev, SCC_MIN_WEIGHT)
    return {
        "n_turns": len(ev),
        "n_edges": len(edges),
        "derive": reference.digest(edges, reference.EDGE_COLS),
        "components": reference.components(e),
        "bfs": reference.bfs(e, sources),
        "bridges": reference.bridges(e),
        "scc": reference.scc(succ),
        **_write_ranks(path, e),
    }


def _prepare_hub(spec: dict, seed: int, path: str) -> dict:
    import inputs
    import reference

    tr = inputs.transcripts(seed, spec["n_convs"], alpha=spec["alpha"],
                            max_turns=spec["max_turns"])
    e = reference.vertex_edges(reference.derive_from_transcripts(tr))
    e.to_parquet(os.path.join(path, "edges.parquet"), index=False)
    return {
        "n_turns": len(tr),
        "n_edges": len(e),
        "labelprop_cascade": reference.labelprop(e, spec["labelprop_iterations"]),
        **_write_ranks(path, e),
    }


_PREPARE = {"sf01_pipeline": _prepare_sf01, "hub_cascades": _prepare_hub}


def prepare(workload: str, seed: int, cache_root: str) -> str:
    """Return the case directory, building inputs and references if the
    cache does not hold them yet. The directory name carries a hash of
    the workload's parameters, so changing them never reuses old inputs."""
    params = json.dumps([WORKLOADS[workload], SCC_MIN_WEIGHT], sort_keys=True)
    tag = hashlib.sha256(params.encode()).hexdigest()[:10]
    path = os.path.join(cache_root, f"{workload}-seed{seed}-{tag}")
    ref_file = os.path.join(path, "reference.json")
    if not os.path.exists(ref_file):
        os.makedirs(path, exist_ok=True)
        ref = _PREPARE[workload](WORKLOADS[workload], seed, path)
        tmp = ref_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ref, f)
        os.replace(tmp, ref_file)
    return path
