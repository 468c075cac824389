"""Seeded benchmark inputs, generated with ``kgforge.fixtures`` and cached.

Each (workload, size, seed) gets one directory under ``perfbench/.cache``.
The same seed gives byte-identical files; another seed gives other
conversations, triples and embeddings. Generation runs in a small pool of
spawned processes: every conversation's RNG is seeded by (seed,
conversation index) alone, so part boundaries do not change the content.
Run as a script, it generates one input set and exits with its pool:

    python3 perfbench/inputs.py <cache_root> <workload> <size> <seed>
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from kgforge import fixtures  # noqa: E402

#: input sizes; "bench" is what the benchmark measures, "unit" feeds the smoke test.
#: Transcript inputs are sized in turns, not conversations: the hot
#: conversations (2% of them, 40x the turns) would otherwise make the
#: amount of work swing by ~15% from seed to seed.
SIZES = {
    "bench": {
        "batch_turns": 34000,
        "inc_base_turns": 8500,
        "inc_append_turns": 425,
        "inc_appends": 40,
        "kg": {"n_ent": 10000, "n_rel": 12, "n_train": 8000, "n_valid": 500, "n_test": 1000},
    },
    "unit": {
        "batch_turns": 600,
        "inc_base_turns": 300,
        "inc_append_turns": 60,
        "inc_appends": 40,
        "kg": {"n_ent": 200, "n_rel": 12, "n_train": 1500, "n_valid": 50, "n_test": 50},
    },
}

POOL_PROCS = 4
TURNS_PER_CONV = 16.9  # expected turns per generated conversation


def _gen_range(task: tuple[int, int, int]):
    lo, hi, seed = task
    trans, golden, _ = fixtures.gen_transcripts_range(lo, hi, seed=seed)
    return trans, golden


def _conversations(seed: int, n_turns: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Transcripts + golden triples of conversations 0..k, k the first
    conversation at which the cumulative turn count reaches ``n_turns``."""
    n_convs = int(n_turns / TURNS_PER_CONV * 1.3) + POOL_PROCS
    parts: list[tuple[pd.DataFrame, pd.DataFrame]] = []
    lo = 0
    while True:
        step = -(-(n_convs - lo) // POOL_PROCS)
        tasks = [(a, min(a + step, n_convs), seed) for a in range(lo, n_convs, step)]
        ctx = mp.get_context("spawn")
        with ctx.Pool(len(tasks)) as pool:
            parts += pool.map(_gen_range, tasks)
            pool.close()
            pool.join()
        trans = pd.concat([t for t, _ in parts], ignore_index=True)
        if len(trans) >= n_turns:
            break
        lo, n_convs = n_convs, 2 * n_convs
    golden = pd.concat([g for _, g in parts], ignore_index=True)
    turns = trans.groupby("conv_id").size().sort_index().cumsum()
    last = turns.index[int(np.searchsorted(turns.to_numpy(), n_turns))]
    return trans[trans["conv_id"] <= last], golden[golden["conv_id"] <= last]


def _write_parts(df: pd.DataFrame, path: str, parts: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    for k in range(parts):
        df.iloc[bounds[k]:bounds[k + 1]].to_parquet(os.path.join(path, f"part-{k}.parquet"), index=False, row_group_size=32768)


def _dictionaries(d: str) -> None:
    fixtures.gazetteer().to_parquet(os.path.join(d, "gazetteer.parquet"), index=False)
    fixtures.patterns_df().to_parquet(os.path.join(d, "patterns.parquet"), index=False)


def _gen_batch(d: str, size: dict, seed: int) -> None:
    trans, golden = _conversations(seed, size["batch_turns"])
    _write_parts(trans, os.path.join(d, "transcripts.parquet"), POOL_PROCS)
    golden.to_parquet(os.path.join(d, "golden_triples.parquet"), index=False)
    _dictionaries(d)


def _gen_incremental(d: str, size: dict, seed: int) -> None:
    """A base commit and ``inc_appends`` appends of exactly ``inc_append_turns``
    turns each, sliced from the turn stream in arrival (``ts``) order, as a
    streaming ingest would commit them; a conversation may span appends."""
    n_base, n_append = size["inc_base_turns"], size["inc_append_turns"]
    trans, _ = _conversations(seed, n_base + n_append * size["inc_appends"])
    trans = trans.sort_values("ts", kind="stable").reset_index(drop=True)
    _write_parts(trans.iloc[:n_base], os.path.join(d, "base.parquet"), POOL_PROCS)
    os.makedirs(os.path.join(d, "appends"))
    for k in range(size["inc_appends"]):
        lo = n_base + k * n_append
        trans.iloc[lo:lo + n_append].to_parquet(
            os.path.join(d, "appends", f"a{k:03d}.parquet"), index=False)
    _dictionaries(d)


def _gen_kg(d: str, size: dict, seed: int) -> None:
    split = fixtures.gen_openke_split(seed=seed, **size["kg"])
    test = split.pop("test2id")
    for name, df in split.items():
        df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
    # the test split as POOL_PROCS files, so ranking runs as that many tasks
    _write_parts(test, os.path.join(d, "test2id.parquet"), POOL_PROCS)
    emb = fixtures.gen_embeddings(
        n_ent=size["kg"]["n_ent"], n_rel=size["kg"]["n_rel"], dim=16, seed=seed
    )
    np.savez(os.path.join(d, "frozen_emb.npz"), ent=emb["ent"], rel=emb["rel"])


_GENERATORS = {
    "batch_build": _gen_batch,
    "incremental_append": _gen_incremental,
    "kg_eval": _gen_kg,
}


def input_dir(cache_root: str, workload: str, size: str, seed: int) -> str:
    return os.path.join(cache_root, f"{workload}-{size}-seed{seed}")


def ensure_inputs(cache_root: str, workload: str, size: str, seed: int) -> str:
    """Directory of the workload's inputs for ``seed``, generated on first use."""
    d = input_dir(cache_root, workload, size, seed)
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _GENERATORS[workload](tmp, SIZES[size], seed)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


if __name__ == "__main__":
    ensure_inputs(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
