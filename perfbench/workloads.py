"""The benchmark's workloads: what one pass runs, how its result is
checked, and which layer calls the traced run times on their own.

A pass goes from the generated input files to a complete result in a sink:
a parquet directory for terasort, rows collected on the driver for the
query workloads.  The program is driven only through its public entry
points: ``uda_spark.registry.all_specs()[name].fn(spark, dir)``, the
functions of ``uda_spark.operators.{workloads,sort,dedup}`` and
``uda_spark.cache.release_persisted``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen

DEDUP_QUERIES = (
    "dedup_minhash_near_pairs", "dedup_cluster_canonical_star", "dedup_prefix_filter_pairs",
)
# Shingle width the dedup queries pass as a literal (k=3 / shingle_k=3).
SHINGLE_K = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    size: float = 0
    warmup: int  # passes in set-up (README.md, "Warm-up plateau")
    min_passes: int  # timed passes at least, however short --seconds is
    queries: tuple[str, ...] = ()
    cache_keep = 12  # generated input sets kept on disk (with their oracle results)

    def __init__(self, data_dir: str, summary: dict, work_dir: str):
        self.data_dir, self.summary, self.work_dir = data_dir, summary, work_dir

    def bind(self, spark) -> None:
        from uda_spark.cache import release_persisted
        from uda_spark.registry import all_specs

        self.spark = spark
        self.specs = all_specs()
        self.release = release_persisted
        self.released = 0

    def run_query(self, name: str):
        """One query of a pass, run into its sink; returns what the check needs."""
        rows = self.specs[name].fn(self.spark, self.data_dir).collect()
        self.released += self.release()
        return rows

    def check(self, name: str, result) -> bool:
        got = sorted(tuple(str(v) for v in row) for row in result)
        return got == self.oracle(name)

    def oracle(self, name: str) -> list[tuple]:
        """The registry's DuckDB oracle on the same files, cached beside them
        (keyed by the oracle's SQL text)."""
        sql = self.specs[name].oracle
        digest = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.data_dir, f"_oracle_{name}_{digest}.json")
        if not os.path.exists(path):
            rows = self._duck().sql(sql).fetchall()
            with open(path + ".tmp", "w") as f:
                json.dump(sorted([str(v) for v in row] for row in rows), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]

    def _duck(self):
        if getattr(self, "_con", None) is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute(f"SET temp_directory='{os.path.join(self.work_dir, 'duckdb')}'")
            for entry in os.scandir(self.data_dir):
                if entry.name.endswith(".parquet"):
                    table = entry.name[: -len(".parquet")]
                    self._con.execute(
                        f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{entry.path}/*.parquet')"
                    )
        return self._con

    def cc_rounds(self) -> int | None:
        """Connected-components rounds of the last pass, if it ran any."""
        return None

    def input_tables(self) -> list[str]:
        return sorted(e.path for e in os.scandir(self.data_dir) if e.name.endswith(".parquet"))

    def layers(self, tracer) -> None:
        """Layer calls timed one by one in the traced run, each materialized
        at its boundary."""
        with tracer.span("sources.scan"):
            for path in self.input_tables():
                _noop(self.spark.read.parquet(path))


class Terasort(Workload):
    name = "terasort"
    size = 2_000_000
    warmup = 2
    min_passes = 3
    queries = ("terasort",)
    cache_keep = 3  # 200 MB each, and cheap to generate again

    def input_tables(self) -> list[str]:
        return [os.path.join(self.data_dir, "records")]

    def _sorted(self):
        from uda_spark.operators import workloads as W

        return W.terasort(self.spark.read.parquet(self.input_tables()[0]))

    def run_query(self, name: str):
        """Writes a new output directory per pass, kept for the check."""
        self.outputs = getattr(self, "outputs", 0) + 1
        out = os.path.join(self.work_dir, f"terasort-out-{self.outputs}")
        self._sorted().write.parquet(out)
        return out

    def check(self, name: str, out: str) -> bool:
        """Sorted within and across partition files, same count and
        order-independent digest as the generated input."""
        files = sorted(f for f in os.listdir(out) if f.startswith("part-"))
        rows, dsum, dxor, prev = 0, 0, 0, None
        for f in files:
            table = pq.read_table(os.path.join(out, f))
            if table.num_rows == 0:
                continue
            keys = _fixed(table.column("key"), 10)
            values = _fixed(table.column("value"), 90)
            if keys is None or values is None:
                return False
            hi = np.ascontiguousarray(keys[:, :8]).view(">u8").ravel()
            lo = np.ascontiguousarray(keys[:, 8:]).view(">u2").ravel()
            if prev is not None and (hi[0], lo[0]) < prev:
                return False
            ok = (hi[1:] > hi[:-1]) | ((hi[1:] == hi[:-1]) & (lo[1:] >= lo[:-1]))
            if not ok.all():
                return False
            prev = (hi[-1], lo[-1])
            s, x = gen.record_digest(keys, values)
            rows, dsum, dxor = rows + table.num_rows, (dsum + s) & 0xFFFFFFFFFFFFFFFF, dxor ^ x
        shutil.rmtree(out, ignore_errors=True)
        want = self.summary
        return (rows, dsum, dxor) == (want["rows"], want["digest_sum"], want["digest_xor"])

    def layers(self, tracer) -> None:
        super().layers(tracer)
        with tracer.span("operators.sort"):
            _noop(self._sorted())
        with tracer.span("sources.write"):
            out = self.run_query("terasort")
        shutil.rmtree(out, ignore_errors=True)


def _fixed(column, width: int):
    """A binary column whose values all have ``width`` bytes, as an (n, width)
    uint8 array; None if any value has another length or is null."""
    parts = []
    for chunk in column.chunks:
        if chunk.null_count:
            return None
        _, offsets, data = chunk.buffers()
        offs = np.frombuffer(offsets, dtype=np.int32, count=len(chunk) + 1, offset=chunk.offset * 4)
        if not (np.diff(offs) == width).all():
            return None
        parts.append(np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]].reshape(-1, width))
    return np.concatenate(parts) if len(parts) != 1 else parts[0]


class Dedup(Workload):
    name = "dedup"
    size = 3000
    warmup = 1
    min_passes = 2
    queries = DEDUP_QUERIES

    def cc_rounds(self) -> int | None:
        from uda_spark.operators import dedup as D

        return D.LAST_STAR_ROUNDS

    def oracle(self, name: str) -> list[tuple]:
        """The star query's registry oracle is the transitive closure of
        the near-pair oracle's edges, labelled by component minimum.  Its
        recursive CTE takes about 24 s on 5000 documents, so the same
        relation is computed here by union-find over the registry's
        near-pair oracle rows (README.md records the two agreeing)."""
        if name != "dedup_cluster_canonical_star":
            return super().oracle(name)
        parent: dict[int, int] = {}

        def root(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in super().oracle("dedup_minhash_near_pairs"):
            a, b = root(int(row[0])), root(int(row[1]))
            parent[max(a, b)] = min(a, b)
        return sorted((str(n), str(root(n))) for n in list(parent))

    def layers(self, tracer) -> None:
        """The operators the three queries compose, called with the
        queries' own corpus and parameters (imported, not repeated)."""
        from uda_spark.operators import dedup as D
        from uda_spark.queries import dedup as Q

        super().layers(tracer)
        corpus = Q._corpus_near(self.spark, self.data_dir)
        with tracer.span("operators.dedup.signatures"):
            _noop(D.minhash_signatures(corpus, "text", "doc_id", n_hashes=Q.N_HASHES, k=SHINGLE_K))
        with tracer.span("operators.dedup.pairs"):
            pairs = D.minhash_near_dup_pairs(
                corpus, "text", "doc_id", n_hashes=Q.N_HASHES, bands=Q.BANDS, k=SHINGLE_K,
                jaccard_threshold=Q.JACCARD_T,
            ).persist()
            pairs.count()
        with tracer.span("operators.dedup.cc"):
            _noop(D.connected_components_star(pairs, hot_degree_threshold=Q.CC_HOT_DEGREE))
        pairs.unpersist()
        with tracer.span("operators.dedup.prefix_pairs"):
            _noop(D.prefix_filter_similarity_pairs(
                corpus, text_col="text", id_col="doc_id", threshold_num=Q.PFX_NUM,
                threshold_den=Q.PFX_DEN, prefix_cap=Q.PFX_CAP, shingle_k=SHINGLE_K,
            ))
        self.released += self.release()


WORKLOADS = {w.name: w for w in (Terasort, Dedup)}
