"""The benchmark's inputs: the engine's sf0.01 fixture tables, copied
into ``fixture/`` here because a run reads only inside its checkout.

Every table but ``documents`` and ``embeddings`` is linked unchanged.
Those two are linked too, or, with ``dup_frac`` > 0, rewritten as a
duplicated corpus: that share of rows is replaced by exact copies of
other, seed-chosen rows (keys stay unique), the shape real web corpora
have and the fixture lacks. The same seed gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from minimapreduce_spark.catalog import TABLES, table_path

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
CORPUS_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def _duplicated(table: pa.Table, key: str, rng: np.random.Generator, frac: float) -> pa.Table:
    """``table`` with ``frac`` of its rows overwritten by copies of rows
    that are themselves kept; the ``key`` column is left as it was."""
    n = table.num_rows
    k = int(n * frac)
    perm = rng.permutation(n)
    targets, keep = perm[:k], perm[k:]
    take = np.arange(n)
    take[targets] = keep[rng.integers(0, len(keep), k)]
    out = table.take(pa.array(take))
    return out.set_column(out.schema.get_field_index(key), key, table.column(key))


def prepare(out_dir: str, seed: int, dup_frac: float) -> dict[str, int]:
    """Lay out every table under ``out_dir``; return row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in TABLES:
        src, dst = table_path(FIXTURE, name), table_path(out_dir, name)
        if name in CORPUS_KEYS and dup_frac > 0:
            table = _duplicated(pq.read_table(src), CORPUS_KEYS[name], rng, dup_frac)
            pq.write_table(table, dst)
        else:
            os.symlink(src, dst)
        rows[name] = pq.ParquetFile(dst).metadata.num_rows
    return rows
