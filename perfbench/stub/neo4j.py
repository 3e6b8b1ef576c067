"""Counting stand-in for the ``neo4j`` Python driver, shipped to Spark's
Python workers with ``SparkContext.addPyFile`` so that
``load_pg_to_neo4j`` runs its real two-pass ``foreachPartition`` load
without a database.

Each call into the stub is timed and counted in memory; nothing is read
back from disk. When a driver object is closed (once per loader
partition, plus once for the index statement) it appends one JSON line
of totals to ``stats_<pid>_<n>.jsonl`` in the directory named by the
``stub:///abs/dir`` connection URI. The totals hold transactions, rows,
node and edge rows, time spent inside the stub and an order-independent
CRC32 digest of the ids written, so the benchmark can check the load
against the PG relation without the stub keeping any state between
batches.

Only the surface the loader touches is implemented:
``GraphDatabase.driver(uri, auth=...)``, ``driver.session(database=...)``
as a context manager, ``session.run(...).consume()``,
``session.execute_write(fn)`` and ``driver.close()``.
"""

import itertools
import json
import os
import time
import zlib

_SEQ = itertools.count()


def _dir_from_uri(uri):
    if not uri.startswith("stub://"):
        raise ValueError(f"stub driver needs a stub:// uri, got {uri!r}")
    return uri[len("stub://") :]


class _Result:
    def consume(self):
        return None


class _Totals:
    def __init__(self):
        self.tx = 0
        self.statements = 0
        self.rows = 0
        self.nodes = 0
        self.edges = 0
        self.index = 0
        self.node_digest = 0
        self.edge_digest = 0
        self.wait_s = 0.0


class _Tx:
    def __init__(self, totals):
        self._t = totals

    def run(self, cypher, batch=None, **params):
        t0 = time.perf_counter()
        t = self._t
        t.statements += 1
        rows = batch or []
        t.rows += len(rows)
        digest = sum(zlib.crc32(r["id"].encode()) for r in rows)
        if cypher.lstrip().startswith("CREATE INDEX"):
            t.index += 1
        elif "OPTIONAL MATCH" in cypher:
            t.edges += len(rows)
            t.edge_digest += digest
        elif "CREATE (n" in cypher:
            t.nodes += len(rows)
            t.node_digest += digest
        t.wait_s += time.perf_counter() - t0
        return _Result()


class _Session:
    def __init__(self, totals):
        self._t = totals

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def run(self, cypher, **params):
        return _Tx(self._t).run(cypher, **params)

    def execute_write(self, fn, *args, **kwargs):
        self._t.tx += 1
        return fn(_Tx(self._t), *args, **kwargs)


class _Driver:
    def __init__(self, uri):
        self._dir = _dir_from_uri(uri)
        self._t = _Totals()

    def session(self, database=None):
        return _Session(self._t)

    def close(self):
        path = os.path.join(
            self._dir, f"stats_{os.getpid()}_{next(_SEQ)}.jsonl"
        )
        with open(path, "a") as fh:
            fh.write(json.dumps(vars(self._t)) + "\n")


class GraphDatabase:
    @staticmethod
    def driver(uri, auth=None, **kwargs):
        return _Driver(uri)


def read_totals(dirpath):
    """Sum every stats file under ``dirpath`` (driver-side helper)."""
    out = vars(_Totals())
    for name in sorted(os.listdir(dirpath)):
        if name.startswith("stats_"):
            with open(os.path.join(dirpath, name)) as fh:
                for line in fh:
                    for k, v in json.loads(line).items():
                        out[k] += v
    return out
