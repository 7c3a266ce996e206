"""The benchmark's input tables, made from the driver's testdata.

``testdata/sf0.01`` is a verbatim copy of the driver's sf0.01 tables
(seed 42; see TESTDATA.md at the repository root), so every value,
distribution and duplicate rate is the program's real test data, not a
guess. A run's inputs are made in two steps:

1. ``base``: ``tools/gen_scale.generate()`` replicates those tables
   ``REPLICAS`` times with disjoint key spaces (sf0.01 x 10 = sf0.1), in
   a Spark session of its own. Seed-independent, so it is made once per
   checkout and cached.
2. ``sample``: the seed keeps a deterministic ``KEEP`` share of the
   fact tables: whole orders with their lineitems, events, and documents
   with their embeddings. Dimension tables are kept whole, so every
   foreign key still resolves. Plain pyarrow, so a new seed costs about
   a second. One seed always gives byte-identical tables; another seed
   gives new tables of the same shape.

    python3 perfbench/datagen.py base OUT_DIR REPLICAS   # step 1 alone
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
SOURCE = HERE / "testdata" / "sf0.01"
REPLICAS = 10
# The share of fact rows a seed keeps. The one number here that is not
# taken from the driver's data: large enough that every seed keeps the
# shape, small enough that two seeds differ in about 18% of the rows.
KEEP = 0.9
# fact table -> the key whose hash decides whether a row is kept; a
# child table uses its parent's key, so an order keeps its lineitems and
# a document its embedding (vec_id is the doc_id it embeds)
SAMPLED = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
# every table's first column is its key, except lineitem's
SORT_KEYS = {"lineitem": ("l_orderkey", "l_linenumber")}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
_MASK64 = (1 << 64) - 1


def keep_mask(keys: np.ndarray, seed: int) -> np.ndarray:
    """True for the keys the seed keeps: the splitmix64 finaliser of the
    key mixed with the seed, below ``KEEP`` of the 64-bit range."""
    x = keys.astype(np.uint64) ^ np.uint64((seed * 0x9E3779B97F4A7C15) & _MASK64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x < np.uint64(int(KEEP * _MASK64))


def sample(base_dir: Path, out_dir: Path, seed: int) -> Path:
    """Write the seed's sample of ``base_dir`` to ``out_dir``, one
    parquet file per table, rows sorted by their key. Written
    to a sibling temp dir first, so a half-written dir is never used."""
    out = Path(out_dir)
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    tmp.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(base_dir / f"{name}.parquet")
        key = SAMPLED.get(name)
        if key is not None:
            table = table.filter(pa.array(keep_mask(table.column(key).to_numpy(), seed)))
        table = table.replace_schema_metadata(None)
        order = [(c, "ascending") for c in SORT_KEYS.get(name, table.column_names[:1])]
        table = table.take(pc.sort_indices(table, order))
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_SUCCESS").touch()
    tmp.rename(out)
    return out


def build_base(out_dir: Path, replicas: int) -> None:
    """``tools/gen_scale.generate`` over ``SOURCE`` into ``out_dir``, in
    a session of this process that is stopped before returning."""
    root = HERE.parent
    sys.path[:0] = [str(root), str(root / "tools")]
    from gen_scale import generate

    from oroboro_dw_dbt_spark.session import get_spark

    spark = get_spark("perfbench-datagen")
    try:
        generate(spark, str(SOURCE), str(out_dir), replicas)
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "base":
        sys.exit(__doc__.splitlines()[-1].strip())
    build_base(Path(sys.argv[2]), int(sys.argv[3]))
