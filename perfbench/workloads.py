"""The benchmark's workloads: inputs, the op list of one pass, and output checks.

An op is forced to completion through its sink by ``Op.run`` (the timed
part). After each run the workload's ``verify`` checks it outside the timed
region and raises ``CheckFailed`` on a wrong answer.
"""

from __future__ import annotations

import collections
import math
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import corpus
import fixtures


class CheckFailed(Exception):
    pass


@dataclass
class Op:
    name: str
    input_rows: int
    run: Callable[[Any, Any], None]  # (spark, tracer)


# --------------------------------------------------------------------------
# mapreduce_jobs: WordCount and WordLength through job.Job(...).run(spark)
# --------------------------------------------------------------------------


class MapReduceJobs:
    def __init__(self, work: Path, seed: int, cfg: dict):
        self.input_dir = work / "corpus"
        self.out_root = work / "out"
        lines = corpus.write_corpus(self.input_dir, seed, **cfg["corpus"])
        self.n_lines = len(lines)
        words, lengths = corpus.golden(lines)
        # the output as a multiset of (key, value) lines, one line per key
        self.golden = {
            "wordcount": collections.Counter((str(k), v) for k, v in words.items()),
            "wordlength": collections.Counter((str(k), v) for k, v in lengths.items()),
        }
        self.jobs = cfg["jobs"]

    def ops(self, instrument=None) -> list[Op]:
        """``instrument(map_fn, reduce_fn)`` wraps the job's fns (traced run)."""
        from map_reduce_engine_spark import job

        ops = []
        for name, module in self.jobs.items():
            map_fn, reduce_fn, types = job.load_job_module(module)
            if instrument is not None:
                map_fn, reduce_fn = instrument(map_fn, reduce_fn)
            j = job.Job(
                name=name,
                input_dir=str(self.input_dir),
                output_dir=str(self.out_root / name),
                map_fn=map_fn,
                reduce_fn=reduce_fn,
                **types,
            )
            ops.append(Op(name, self.n_lines, lambda spark, tracer, j=j: j.run(spark)))
        return ops

    def verify(self, spark, op: Op, first: bool) -> None:
        """Every pass: the TSV parts, as a multiset of lines, equal the golden
        answer (a key split over two lines fails)."""
        got = collections.Counter()
        for part in sorted((self.out_root / op.name).glob("part-*")):
            for line in part.read_text(encoding="utf-8").splitlines():
                key, value = line.split("\t")
                got[key, int(value)] += 1
        want = self.golden[op.name]
        if got != want:
            wrong = sum(((got - want) + (want - got)).values())
            raise CheckFailed(f"{op.name}: {wrong} output lines differ from the golden answer")


# --------------------------------------------------------------------------
# iterative: registry loop operators through the noop sink
# --------------------------------------------------------------------------


def _normalize_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    return repr(v)


def normalize(rows, columns) -> list[tuple]:
    """Columns sorted by name, then rows: the oracle-parity canonical multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_normalize_cell(row[i]) for i in order) for row in rows)


class RegistryOps:
    def __init__(self, work: Path, cfg: dict):
        import duckdb

        from map_reduce_engine_spark.queries import REGISTRY

        self.sf_dir = work / "tables"
        # every op reads the one documents table
        self.input_rows = fixtures.write_documents(self.sf_dir, cfg["documents"], cfg["table_seed"])
        self.queries = {name: REGISTRY[name] for name in cfg["ops"]}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'")
            self.oracle = {}
            for name, q in self.queries.items():
                rel = con.sql(q.oracle)
                self.oracle[name] = normalize(rel.fetchall(), rel.columns)
        finally:
            con.close()

    def ops(self, instrument=None) -> list[Op]:
        """``instrument`` is unused: these ops run no Python UDF."""
        return [Op(name, self.input_rows, self._runner(q)) for name, q in self.queries.items()]

    def _runner(self, q):
        def run(spark, tracer):
            with tracer.span("queries.build"):
                df = q.fn(spark, str(self.sf_dir))
            with tracer.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()

        return run

    def verify(self, spark, op: Op, first: bool) -> None:
        """First pass only (the noop sink keeps no output): collect the op
        once more and compare with its DuckDB oracle."""
        if not first:
            return
        df = self.queries[op.name].fn(spark, str(self.sf_dir))
        got = normalize([tuple(r) for r in df.collect()], df.columns)
        if got != self.oracle[op.name]:
            raise CheckFailed(
                f"{op.name}: {len(got)} rows differ from the DuckDB oracle's {len(self.oracle[op.name])}"
            )


def make(name: str, work: Path, seed: int, settings: dict):
    cfg = settings["workloads"][name]
    if name == "mapreduce_jobs":
        return MapReduceJobs(work, seed, cfg)
    if name == "iterative":
        return RegistryOps(work, cfg)
    raise ValueError(f"unknown workload {name!r}")
