"""Inputs and expected answers of adhoc_tpch.

    python3 perfbench/prepare.py <seed> <sf> <data_dir> <expected_path>

Writes the seeded TPC-H-like tables at scale factor ``sf`` as parquet
into ``data_dir``, and DuckDB's answers to the headline queries over
them, pickled, to ``expected_path``. The benchmark runs this in a child
process, so that the memory taken by generation and by DuckDB is not
counted in the peak resident set of the process that runs the engine.
"""

from __future__ import annotations

import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import oracle  # noqa: E402
from queries import HEADLINE  # noqa: E402


def main(argv) -> int:
    seed, sf, data, expected_path = int(argv[0]), float(argv[1]), argv[2], \
        argv[3]
    datagen.write_tables(datagen.tpch_tables(seed, sf), data)
    con = oracle.parquet_duckdb(data, datagen.TPCH_TABLES)
    expected = {n: con.execute(q).fetchall() for n, q in HEADLINE.items()}
    with open(expected_path, "wb") as f:
        pickle.dump(expected, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
