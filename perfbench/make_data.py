"""Writes the benchmark's input tables, perfbench/data/*.parquet, from the
repository's sf0.1 test tables (see TESTDATA.md).

    python3 perfbench/make_data.py SF0.1_DIR

The benchmark runs inside a bare checkout, so its inputs are kept in the
repository. They are real sf0.1 rows, unchanged:

* ``documents``, ``nation`` and ``customer``: the whole sf0.1 tables.
* ``orders``: the orders with ``o_orderkey < ORDERS`` (a tenth of sf0.1),
  and ``lineitem``: every line of those orders, so the RefObjectMap join
  and the rdf:List groups are the sf0.1 ones for the orders kept.
* ``events``: the events with ``event_id < EVENTS`` (a tenth of sf0.1).

Re-running it on the same tables writes the same rows.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ORDERS = 15_000
EVENTS = 10_000

SLICES = {  # table -> (key column, exclusive upper bound) or None for whole
    "documents": None,
    "nation": None,
    "customer": None,
    "orders": ("o_orderkey", ORDERS),
    "lineitem": ("l_orderkey", ORDERS),
    "events": ("event_id", EVENTS),
}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    out = os.path.join(HERE, "data")
    os.makedirs(out, exist_ok=True)
    for name, cut in SLICES.items():
        table = pq.read_table(os.path.join(argv[0], f"{name}.parquet"))
        if cut is not None:
            col, bound = cut
            table = table.filter(pc.less(table[col], bound))
        table = table.replace_schema_metadata(None)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {table.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
