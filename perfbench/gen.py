"""Closed-form expectations for the seeded capture/stream inputs.

``write`` lays the rows out as parquet before the benchmark JVM starts;
``expected`` derives what graft must output for them from the seed alone,
without Spark or graft.

Row ``id`` lies in block ``f = id // block`` at position ``j = id % block``:

    r    = (j*7919 + seed*104729 + f*15485863) mod block
    kind = 1 (division by zero) if r < errors/2,
           2 (invalid int cast) if r < errors, else 0
    a    = (id*31 + seed) mod 1000
    b    = 0 if kind == 1 else 1 + id mod 13
    s    = "x<id>" if kind == 2 else str(id mod 10007)

and the capture projection is ``q = a div b``, ``n = cast(s as int)``.
Since 7919 is prime and coprime with each block size, ``r`` runs over the
whole block exactly once, so every block holds exactly ``errors/2`` rows
of each error class.
"""
import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIV_ZERO = "org.apache.spark.SparkArithmeticException"
BAD_CAST = "org.apache.spark.SparkNumberFormatException"


def kinds(ids, seed, block, errors):
    ids = np.asarray(ids, dtype=np.int64)
    r = ((ids % block) * 7919 + seed * 104729 + (ids // block) * 15485863) % block
    return np.where(r < errors // 2, 1, np.where(r < errors, 2, 0))


def row(i, seed, block, errors):
    """The generated row ``i`` as a dict, and its error kind."""
    k = int(kinds([i], seed, block, errors)[0])
    return ({"id": i, "a": (i * 31 + seed) % 1000, "b": 0 if k == 1 else 1 + i % 13,
             "s": f"x{i}" if k == 2 else str(i % 10007)}, k)


def input_value(i, seed, block, errors):
    """``to_json(struct(id, a, b, s))`` of row ``i``, byte for byte."""
    return json.dumps(row(i, seed, block, errors)[0], separators=(",", ":"))


def expected(seed, block, errors, blocks=1):
    """Class counts and the values-sink checksums for ``blocks`` blocks."""
    assert math.gcd(7919, block) == 1 and errors % 2 == 0 and errors <= block
    ids = np.arange(blocks * block, dtype=np.int64)
    k = kinds(ids, seed, block, errors)
    ok = ids[k == 0]
    a = (ok * 31 + seed) % 1000
    b = 1 + ok % 13
    return {
        "n_rows": int(ids.size),
        "n_errors": int((k != 0).sum()),
        "by_class": {DIV_ZERO: int((k == 1).sum()), BAD_CAST: int((k == 2).sum())},
        "values_rows": int(ok.size),
        "sum_q": int((a // b).sum()),
        "sum_n": int((ok % 10007).sum()),
        "sum_id": int(ok.sum()),
    }


def write(path, seed, block, errors, blocks, files):
    """Write ``blocks * block`` rows as ``files`` parquet files of
    contiguous ids (``id bigint, a int, b int, s string``). A multi-block
    input gets whole blocks per file."""
    assert blocks == 1 or blocks % files == 0
    ids = np.arange(blocks * block, dtype=np.int64)
    k = kinds(ids, seed, block, errors)
    a = ((ids * 31 + seed) % 1000).astype(np.int32)
    b = np.where(k == 1, 0, 1 + ids % 13).astype(np.int32)
    s = [f"x{i}" if kk == 2 else str(i % 10007) for i, kk in zip(ids.tolist(), k.tolist())]
    table = pa.table({"id": ids, "a": a, "b": b, "s": pa.array(s, pa.string())})
    bounds = np.linspace(0, ids.size, files + 1).astype(np.int64)
    for f in range(files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{f:05d}.parquet")
