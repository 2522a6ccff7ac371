"""The row map every per-file and per-payload Python stage shares
(``schema.map_rows``): its executor side bounds output batches, and it
is the only row-level Python map outside the synthesizer."""

import ast
import os

import pyarrow as pa

from parserpdf_spark.schema import ROW_MAP_BATCH, _map_rows_batches

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "parserpdf_spark",
)


def test_row_map_flushes_expanded_rows_in_bounded_batches():
    """A row-expanding function (one input → 0..1000 rows) comes out in
    batches of at most ROW_MAP_BATCH rows, in order, with no row lost —
    and the first batch leaves before the 1000-row input is drained."""
    assert ROW_MAP_BATCH == 256
    schema = pa.schema([("src", pa.int64()), ("i", pa.int64())])
    fan = {0: 3, 1: 0, 2: 1000, 3: 255, 4: 1, 5: 0, 6: 257}
    produced = []

    def expand(src):
        for i in range(fan[src]):
            produced.append((src, i))
            yield {"src": src, "i": i}

    batches = [
        pa.RecordBatch.from_pydict({"src": [0, 1, 2]}),
        pa.RecordBatch.from_pydict({"src": []}, schema=pa.schema([("src", pa.int64())])),
        pa.RecordBatch.from_pydict({"src": [3, 4, 5, 6]}),
    ]
    out = _map_rows_batches(iter(batches), expand, schema)
    first = next(out)
    assert first.num_rows == ROW_MAP_BATCH
    assert len(produced) == ROW_MAP_BATCH  # flushed mid-input
    rest = list(out)
    sizes = [b.num_rows for b in [first, *rest]]
    assert all(0 < n <= ROW_MAP_BATCH for n in sizes)
    assert all(n == ROW_MAP_BATCH for n in sizes[:-1])
    assert all(b.schema == schema for b in rest)
    got = [(r["src"], r["i"]) for b in [first, *rest] for r in b.to_pylist()]
    assert got == [(s, i) for s in sorted(fan) for i in range(fan[s])]
    assert sum(sizes) == sum(fan.values())


def test_no_stage_maps_through_pandas():
    """Every row-level Python stage under parserpdf_spark/ goes through
    ``schema.map_rows`` (or its own ``mapInArrow``): none calls
    ``mapInPandas``."""
    callers = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            if any(
                isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
                for node in ast.walk(tree)
            ):
                callers.append(os.path.relpath(path, PACKAGE))
    assert callers == []
