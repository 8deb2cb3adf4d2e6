"""The two workloads: what one operation is, how its set-up runs, and
how its outputs are checked.

Every call into the program goes through ``tracer.span`` with the layer
that owns it, so the traced run can attribute time and Spark jobs per
layer. Checks run outside the timed region.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
from collections import Counter

from perfbench import gen

# a build-bound loop of eager lineage cuts with a fixed round count, so
# every seed does the same work (connected-components queries converge in
# a seed-dependent number of rounds)
ITERATIVE = ("q_graph_pagerank",)


def _oracle_utils():
    path = os.path.join(gen.REPO, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("_perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def row_digest(rows) -> list[str]:
    """Order-insensitive canonical form of a collected result."""
    return sorted(repr(tuple(r)) for r in rows)


class QueryWorkload:
    """One operation = one registered query: ``Query.build`` then
    ``DataFrame.collect``. A pass runs the whole mix in its listed order;
    the seed varies the data."""

    def __init__(self, names: tuple[str, ...], seed: int, work: str, warm_passes: int = 1):
        self.names = names
        self.n_warm = warm_passes
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf0.1")
        self.first: dict[str, tuple] = {}  # name -> (rows, schema)
        self.oracle: dict[str, list[str]] = {}  # name -> oracle mismatches

    def generate(self) -> None:
        gen.generate_tables(self.seed, self.sf_dir)

    def setup(self, spark, tracer) -> None:
        from p6_spark.sources.tables import load_tables

        with tracer.span("load_tables", "sources"):
            load_tables(spark, self.sf_dir)

    def warm_passes(self) -> list[list[str]]:
        return [list(self.names)] * self.n_warm

    def timed_pass(self, n: int) -> list[str]:
        return list(self.names)

    def run_op(self, spark, tracer, name: str, op: int):
        from p6_spark.plans import QUERIES

        with tracer.span(name, "bench", op=op):
            with tracer.span("Query.build", "plans"):
                df = QUERIES[name].build(spark, self.sf_dir)
            with tracer.span("DataFrame.collect", "session"):
                rows = df.collect()
        if name not in self.first:
            self.first[name] = (rows, df.schema)
        return rows

    def check(self, spark, name: str, rows) -> list[str]:
        """The first result must equal the oracle, and every result the
        first: an operation fails if either does not hold."""
        if name not in self.oracle:
            self.oracle[name] = self.oracle_problems(spark, name)
        problems = list(self.oracle[name])
        first_rows, _ = self.first[name]
        if rows is not first_rows and row_digest(rows) != row_digest(first_rows):
            problems.append(f"{name}: result differs from the first pass")
        return problems

    def oracle_problems(self, spark, name: str) -> list[str]:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from p6_spark.plans import QUERIES

        ou = _oracle_utils()
        rows, schema = self.first[name]
        # the pandas frame toPandas() would give, built without a Spark job
        got = pa.Table.from_pylist(
            [r.asDict(recursive=True) for r in rows], schema=to_arrow_schema(schema)
        ).to_pandas()
        want = ou.run_oracle(QUERIES[name].oracle, self.sf_dir)
        return [f"{name}: {p}" for p in ou.compare(got, want)]


class ClinicalWorkload:
    """One operation = one workbook through ``p6x parse-excel``'s call
    sequence: load_workbook, apply_mapping, write_packet_files,
    MappingResult.stats, audit.collect."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.warm_book: gen.Workbook | None = None
        self.timed_books: list[gen.Workbook] = []
        self.ontology = None
        self.first: dict[str, tuple] = {}

    def generate(self) -> None:
        """The smallest workbook warms the session; the timed operations
        cycle through the others from small to large, so every seed times
        the same sizes in the same order (the seed varies the content)."""
        books = sorted(gen.workbook_batch(self.seed, os.path.join(self.work, "workbooks")),
                       key=lambda b: b.n_patients)
        self.warm_book, self.timed_books = books[0], books[1:]

    def warm_passes(self) -> list[list[gen.Workbook]]:
        return [[self.warm_book]]

    def timed_pass(self, n: int) -> list[gen.Workbook]:
        """One workbook per pass."""
        return [self.timed_books[(n - 1) % len(self.timed_books)]]

    def setup(self, spark, tracer) -> None:
        from p6_spark.sources.ontology import ontology_from_records

        with tracer.span("ontology_from_records", "sources"):
            self.ontology = ontology_from_records(spark, gen.ontology_records())

    def run_op(self, spark, tracer, book: gen.Workbook, op: int):
        from p6_spark.loader import load_workbook
        from p6_spark.mapper import apply_mapping
        from p6_spark.operators.packet import write_packet_files

        out_dir = os.path.join(self.work, "packets", f"op{op}")
        with tracer.span(os.path.basename(book.path), "bench", op=op):
            with tracer.span("load_workbook", "loader"):
                tables = load_workbook(spark, book.path)
            with tracer.span("apply_mapping", "mapper"):
                result = apply_mapping(spark, tables, ontology=self.ontology)
            with tracer.span("write_packet_files", "packet"):
                n_files = write_packet_files(result.packets, out_dir)
            with tracer.span("MappingResult.stats", "mapper"):
                stats = result.stats()
            with tracer.span("audit.collect", "audit"):
                issues = result.audit.collect()
        return {"out_dir": out_dir, "n_files": n_files, "stats": stats, "issues": issues}

    def check(self, spark, book: gen.Workbook, res: dict) -> list[str]:
        """Stats, audit and packets against the generator's expectation,
        and against this workbook's first result when it repeats."""
        exp = book.expected
        name = os.path.basename(book.path)
        problems = []
        if res["stats"] != exp.stats():
            problems.append(f"{name}: stats {res['stats']} != expected {exp.stats()}")
        audit = Counter((r["step"], r["level"]) for r in res["issues"])
        if audit != exp.audit:
            problems.append(f"{name}: audit {dict(audit)} != expected {dict(exp.audit)}")
        docs = _read_packets(res["out_dir"])
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        if res["n_files"] != len(docs):
            problems.append(f"{name}: write_packet_files returned {res['n_files']}, wrote {len(docs)}")
        problems += [f"{name}: {p}" for p in packet_problems(docs, exp)]
        digest = (
            sorted(res["stats"].items()),
            sorted(tuple(r) for r in res["issues"]),
            sorted(json.dumps(d, sort_keys=True) for d in docs),
        )
        if self.first.setdefault(name, digest) != digest:
            problems.append(f"{name}: result differs from its first run")
        return problems


def _read_packets(out_dir: str) -> list[dict]:
    docs = []
    for fn in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, fn)) as f:
            docs.append(json.load(f))
    return docs


PACKET_KEYS = {"id", "subject", "phenotypicFeatures", "interpretations", "diseases",
               "measurements", "biosamples"}
_HPO = re.compile(r"^HP:\d{7}$")


def packet_problems(docs: list[dict], exp: gen.Expected) -> list[str]:
    """Phenopacket JSON shape: one document per expected patient, subject
    id = packet id, and per-kind element counts equal to the valid records."""
    problems = []
    ids = [d.get("id") for d in docs]
    if sorted(ids) != sorted(exp.patients):
        problems.append(f"packet ids: {len(ids)} written, {len(exp.patients)} expected")
    totals = Counter()
    for d in docs:
        extra = set(d) - PACKET_KEYS
        if extra:
            problems.append(f"packet {d.get('id')}: unexpected keys {sorted(extra)}")
        if d.get("subject", {}).get("id") != d.get("id"):
            problems.append(f"packet {d.get('id')}: subject id mismatch")
        for f in d.get("phenotypicFeatures", []):
            if not _HPO.match(f["type"]["id"]):
                problems.append(f"packet {d['id']}: bad HPO id {f['type']['id']}")
        for i, interp in enumerate(d.get("interpretations", [])):
            if interp["id"] != f"{d['id']}-interpretation-{i}":
                problems.append(f"packet {d['id']}: interpretation id {interp['id']}")
        for key, kind in (("phenotypicFeatures", "phenotype"), ("interpretations", "genotype"),
                          ("diseases", "diseases"), ("measurements", "measurements"),
                          ("biosamples", "biosamples")):
            totals[kind] += len(d.get(key, []))
    for kind, n in exp.records.items():
        if totals[kind] != n:
            problems.append(f"{kind}: {totals[kind]} packet elements, {n} valid records expected")
    return problems
