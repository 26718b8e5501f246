"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same files and returns the same expected tallies. No Spark is involved.
"""

from __future__ import annotations

import importlib.util
import os
import random
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CMD_SCHEMA = pa.schema([("aggregate_id", pa.string()), ("command_id", pa.string())])


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """``size`` key ids drawn from Zipf(``s``) over ``n_keys`` ranks. A seeded
    permutation maps ranks to ids, so the hot keys land in different store
    buckets from seed to seed."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    p /= p.sum()
    rank_to_key = rng.permutation(n_keys)
    return rank_to_key[rng.choice(n_keys, size=size, p=p)]


def write_command_files(
    out_dir: str, seed: int, n_files: int, per_file: int, n_keys: int, s: float
) -> np.ndarray:
    """Write ``n_files`` parquet command files of ``per_file`` Zipf-keyed
    commands each; return the per-key command tally."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    tally = np.zeros(n_keys, dtype=np.int64)
    for f in range(n_files):
        keys = zipf_keys(rng, n_keys, per_file, s)
        np.add.at(tally, keys, 1)
        first = f * per_file
        table = pa.table(
            {
                "aggregate_id": [str(k) for k in keys],
                "command_id": [f"cmd-{first + i:012d}" for i in range(per_file)],
            },
            schema=CMD_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:06d}.parquet"))
    return tally


# -- catalog tables -----------------------------------------------------------


def _stress_scale():
    """``scripts/stress_scale.py``, the repository's generator of synthetic
    slices shaped like its sf testdata."""
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(checkout, "scripts", "stress_scale.py")
    spec = importlib.util.spec_from_file_location("stress_scale", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class _Numpy:
    """numpy, except for ``random``."""

    def __init__(self, random_ns) -> None:
        self.random = random_ns

    def __getattr__(self, name: str):
        return getattr(np, name)


def _reseeded(fn, seed: int):
    """``fn`` with the fixed seeds it hands to ``random.Random`` and
    ``np.random.default_rng`` combined with ``seed``: same code, same
    shapes, tables that follow the seed."""
    rand = types.SimpleNamespace(Random=lambda s: random.Random(f"{seed}:{s}"))
    nprand = types.SimpleNamespace(default_rng=lambda s: np.random.default_rng([seed, s]))
    scope = dict(fn.__globals__, random=rand, np=_Numpy(nprand))
    return types.FunctionType(fn.__code__, scope, fn.__name__, fn.__defaults__)


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table the catalog reads at scale ``sf`` with
    ``stress_scale.gen`` and ``gen_tpch_dims`` (sf0.1: lineitem 600k rows,
    orders 147k, events 100k over 30 days for 1.5k users, documents 5k with
    about 1% planted near-duplicates, 64-dimension embeddings; prices with
    two decimals), seeded from ``seed``."""
    stress = _stress_scale()
    os.makedirs(out_dir)
    _reseeded(stress.gen, seed)(out_dir, sf)
    _reseeded(stress.gen_tpch_dims, seed)(out_dir, sf)
