"""The benchmark's workloads: what one pass runs and how its output is checked.

Both workloads are closed loops: one client in this process issues one
operation after another against ``local[nproc]`` and waits for each.

Every registry operation runs exactly as ``plans.all_queries()`` returns
it.  There is no benchmark-only plan variant: the numbers are those of the
code that users run and that the DuckDB oracles check, so a change that
speeds up the benchmark speeds up the registered query too.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.trace import Tracer

# ---------------------------------------------------------------------------
# Definitions
# ---------------------------------------------------------------------------

ETL_YEARS = (2023,)
ETL_ROWS_PER_YEAR = 1000
STAR_TABLES = (
    "dim_tempo", "dim_rodovia", "dim_local", "dim_descritivo", "dim_veiculo",
    "fato_acidentes",
)
# fact FK column -> (dimension table, its key column)
STAR_FKS = {
    "id_tempo": "dim_tempo", "id_rodovia": "dim_rodovia", "id_local": "dim_local",
    "id_descritivo": "dim_descritivo", "id_veiculo": "dim_veiculo",
}

# registry_mix reads a copy of the project's sf0.01 testdata tables (the
# TPC-H-shaped star, events, documents, embeddings; generated once with
# seed 42): the data the DuckDB oracles and the project's tests run on.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# (registry query, span that owns its action in a traced run)
REGISTRY_OPS = (
    ("q5_local_supplier_volume", "plans.execute"),
    ("dq_report_lineitem", "quality.audit"),
    ("dedup_duplicate_spans", "ml.dedup"),
    ("select_importance_dsir", "ml.selection"),
    ("multimodal_png_decode", "ml.multimodal"),
)

WHY = {
    "etl_star_load": (
        "the paper's own monthly job: raw dirty CSV parsing, eager two-pass "
        "medians, a per-year lineage and parquet writes beside the reads"
    ),
    "registry_mix": (
        "registered BI/EDA reads and text-curation heads on the sf0.01 testdata, "
        "sharing one persisted corpus, with an Arrow/Python image decode"
    ),
}

# Program functions wrapped in spans in a traced run: span name ->
# (module, attribute).  Spans in ETL_MATERIALIZE compute their result
# inside the span (the traced run's materialization at layer boundaries).
TRACED_FUNCTIONS = {
    "sources.read_raw_csv": ("processo_etl_spark.sources.readers", "read_raw_csv"),
    "sources.write_parquet": ("processo_etl_spark.sources.readers", "write_parquet"),
    "functions.impute_median": ("processo_etl_spark.functions.cleaning", "impute_median"),
    "etl.run_pipeline": ("processo_etl_spark.etl.pipeline", "run_pipeline"),
    "etl.merge_year": ("processo_etl_spark.etl.pipeline", "merge_year"),
    "etl.clean": ("processo_etl_spark.etl.pipeline", "clean"),
    "etl.transform": ("processo_etl_spark.etl.pipeline", "transform"),
    "etl.build_star": ("processo_etl_spark.etl.pipeline", "build_star"),
    "operators.star.build_dimension": ("processo_etl_spark.operators.star", "build_dimension"),
    "operators.star.attach_fks": ("processo_etl_spark.operators.star", "attach_fks"),
    "operators.star.fact_grain_dedup": ("processo_etl_spark.operators.star", "fact_grain_dedup"),
    "quality.expectations.run": ("processo_etl_spark.quality.expectations", "run"),
    "ml.dedup.duplicate_spans": ("processo_etl_spark.ml.dedup", "duplicate_spans"),
    "ml.selection.importance_weights": ("processo_etl_spark.ml.selection", "importance_weights"),
    "ml.multimodal.synthesize_png_media": ("processo_etl_spark.ml.multimodal", "synthesize_png_media"),
    "ml.multimodal.extract_features": ("processo_etl_spark.ml.multimodal", "extract_features"),
    "plans.corpus": ("processo_etl_spark.plans.common", "corpus"),
}
# impute_median is left lazy: its span already holds its eager median
# job, and functions.eager_jobs must count only that.
ETL_MATERIALIZE = frozenset({
    "sources.read_raw_csv", "etl.merge_year", "etl.clean", "etl.transform",
    "operators.star.build_dimension", "operators.star.attach_fks",
    "operators.star.fact_grain_dedup",
})


def traced_functions() -> tuple[dict[str, Callable], list[str]]:
    """Resolve TRACED_FUNCTIONS; returns (span name -> function, missing)."""
    import importlib

    found, missing = {}, []
    for span, (module, attr) in TRACED_FUNCTIONS.items():
        fn = getattr(importlib.import_module(module), attr, None)
        if callable(fn):
            found[span] = fn
        else:
            missing.append(f"{module}.{attr}")
    return found, missing


# ---------------------------------------------------------------------------
# Pass results
# ---------------------------------------------------------------------------


@dataclass
class OpResult:
    name: str
    latency_s: float
    ok: bool = True
    error: str | None = None


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float  # CPU time of this process and its descendants
    ops: list[OpResult] = field(default_factory=list)
    traced: bool = False


def proc_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name (state, ppid,
    ...) of ``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and the Python workers).  Unlike wall time it leaves out
    time the host gave to other guests.  Reaped children are counted in
    their parent's cutime/cstime, so the sum carries over when they exit."""
    ticks = sum(
        sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for fields in proc_tree(os.getpid()).values()
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def tally(passes: list[PassResult]) -> tuple[int, int]:
    """(operations attempted, operations that raised or gave wrong output)."""
    ops = [op for p in passes for op in p.ops]
    return len(ops), sum(not op.ok for op in ops)


def run_op(
    name: str, fn: Callable[[], object], tracer: Tracer | None
) -> tuple[OpResult, object]:
    """Time one operation; an exception is recorded as a failed operation."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = fn()
        else:
            with tracer.span("bench.op"):
                out = fn()
    except Exception as e:  # noqa: BLE001 - a failing operation is data, not a crash
        return OpResult(name, time.perf_counter() - t0, False, f"{type(e).__name__}: {str(e)[:300]}"), None
    return OpResult(name, time.perf_counter() - t0), out


# ---------------------------------------------------------------------------
# etl_star_load
# ---------------------------------------------------------------------------


class EtlStarLoad:
    name = "etl_star_load"
    steady_passes = 3

    def __init__(self, work_dir: str, seed: int) -> None:
        self.raw_dir = os.path.join(work_dir, "raw")
        self.out_dir = os.path.join(work_dir, "star")
        self.expect = datagen.write_raw_csvs(self.raw_dir, seed, ETL_YEARS, ETL_ROWS_PER_YEAR)
        self.inputs = {"rows": self.expect.raw_rows, "bytes": self.expect.raw_bytes}
        self.bytes_written = 0
        self.files_written = 0

    def run_pass(self, spark, rng: random.Random | None, tracer: Tracer | None) -> PassResult:
        from processo_etl_spark.etl import pipeline
        from processo_etl_spark.sources import readers

        shutil.rmtree(self.out_dir, ignore_errors=True)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        res, star = run_op(
            "run_pipeline", lambda: pipeline.run_pipeline(spark, self.expect.year_files), tracer
        )
        ops = [res]
        for table in STAR_TABLES:
            if star is None:
                ops.append(OpResult(f"write_{table}", 0.0, False, "pipeline failed"))
                continue
            path = os.path.join(self.out_dir, table)
            r, _ = run_op(
                f"write_{table}", lambda p=path, t=table: readers.write_parquet(getattr(star, t), p), tracer
            )
            ops.append(r)
        result = PassResult(time.perf_counter() - t0, tree_cpu_s() - c0, ops, tracer is not None)
        spark.catalog.clearCache()  # drop this pass's persisted union
        self._check(result)
        return result

    def _check(self, result: PassResult) -> None:
        """Untimed: read the written star back with DuckDB and test the
        invariants the generator knows; a violation fails that table's write."""
        import duckdb

        written = {op.name.removeprefix("write_") for op in result.ops if op.ok and op.name.startswith("write_")}
        if written != set(STAR_TABLES):
            return
        self.bytes_written = self.files_written = 0
        for table in STAR_TABLES:
            for root, _, files in os.walk(os.path.join(self.out_dir, table)):
                for f in files:
                    if f.endswith(".parquet"):
                        self.files_written += 1
                        self.bytes_written += os.path.getsize(os.path.join(root, f))
        problems = check_star(duckdb.connect(), self.out_dir, self.expect.fact_rows)
        for op in result.ops:
            table = op.name.removeprefix("write_")
            if table in problems:
                op.ok, op.error = False, "; ".join(problems[table])


def check_star(con, out_dir: str, fact_rows: int) -> dict[str, list[str]]:
    """Invariant violations per star table (empty dict when all hold)."""
    def rel(table: str) -> str:
        return f"read_parquet('{os.path.join(out_dir, table)}/*.parquet')"

    def scalar(sql: str):
        return con.sql(sql).fetchone()[0]

    problems: dict[str, list[str]] = {}
    fact = rel("fato_acidentes")
    n = scalar(f"SELECT count(*) FROM {fact}")
    if n != fact_rows:
        problems.setdefault("fato_acidentes", []).append(f"fact rows {n} != {fact_rows}")
    bad = scalar(
        f"SELECT count(*) FROM {fact} WHERE obitos > pessoas_envolvidas "
        "OR feridos > pessoas_envolvidas OR pessoas_envolvidas IS NULL"
    )
    if bad:
        problems.setdefault("fato_acidentes", []).append(f"{bad} rows with obitos/feridos > pessoas")
    for fk, dim in STAR_FKS.items():
        d = rel(dim)
        dup = scalar(f"SELECT count(*) - count(DISTINCT {fk}) FROM {d}")
        if dup:
            problems.setdefault(dim, []).append(f"{dup} duplicate {fk}")
        cols = [c for c in con.sql(f"SELECT * FROM {d} LIMIT 0").columns if c != fk]
        dup_nat = scalar(f"SELECT count(*) - (SELECT count(*) FROM (SELECT DISTINCT {', '.join(cols)} FROM {d})) FROM {d}")
        if dup_nat:
            problems.setdefault(dim, []).append(f"{dup_nat} duplicate natural keys")
        orphans = scalar(f"SELECT count(*) FROM {fact} f ANTI JOIN {d} USING ({fk})")
        if orphans:
            problems.setdefault("fato_acidentes", []).append(f"{orphans} unresolved {fk}")
    for dim, domains in datagen.OUTPUT_DOMAINS.items():
        for col, allowed in domains.items():
            values = ", ".join("'" + v.replace("'", "''") + "'" for v in (*allowed, datagen.NOT_INFORMED))
            out = scalar(f"SELECT count(*) FROM {rel(dim)} WHERE {col} IS NULL OR {col} NOT IN ({values})")
            if out:
                problems.setdefault(dim, []).append(f"{out} out-of-domain {col}")
    return problems


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


class RegistryMix:
    name = "registry_mix"
    steady_passes = 3

    def __init__(self, work_dir: str, seed: int) -> None:
        """The tables are fixed (DATA_DIR); the seed only orders the
        operations of each steady pass (``run_pass``)."""
        import duckdb

        from processo_etl_spark import catalog, plans

        self.data_dir = DATA_DIR
        self.ops = list(REGISTRY_OPS)
        queries, oracles = plans.all_queries(), plans.all_oracles()
        self.queries = {name: queries[name] for name, _ in self.ops}
        # Oracle results, computed once (untimed) before any session exists.
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        paths = {t: catalog.table_path(self.data_dir, t) for t in catalog.TABLES}
        for t, path in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.inputs = {
            "rows": sum(con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in paths),
            "bytes": sum(os.path.getsize(path) for path in paths.values()),
        }
        self.expected = {}
        for name, _ in self.ops:
            r = con.sql(oracles[name])
            self.expected[name] = multiset(r.columns, r.fetchall())
        con.close()

    def run_pass(self, spark, rng: random.Random | None, tracer: Tracer | None) -> PassResult:
        """One pass over the operations, in an order drawn from ``rng``
        (``None``: the registry order, used for the cold pass so that
        cold_s does not move with which query pays the JVM warm-up)."""
        order = list(self.ops)
        if rng is not None:
            rng.shuffle(order)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        outputs = [
            run_op(name, lambda n=name, o=owner: self._execute(spark, n, o, tracer), tracer)
            for name, owner in order
        ]
        result = PassResult(
            time.perf_counter() - t0, tree_cpu_s() - c0, [res for res, _ in outputs], tracer is not None
        )
        for res, out in outputs:  # untimed output check
            if res.ok and multiset(*out) != self.expected[res.name]:
                res.ok, res.error = False, "result differs from the DuckDB oracle"
        return result

    def _execute(self, spark, name: str, owner: str, tracer: Tracer | None):
        fn = self.queries[name]
        if tracer is None:
            df = fn(spark, self.data_dir)
            return df.columns, df.collect()
        with tracer.span("plans.build"):
            df = fn(spark, self.data_dir)
        with tracer.span("plans.catalyst"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span(owner):
            return df.columns, df.collect()


def multiset(cols, rows):
    """Order-insensitive result digest: tools/check_oracles.py's comparison."""
    from check_oracles import table_multiset

    return table_multiset(list(cols), rows)


WORKLOADS = {"etl_star_load": EtlStarLoad, "registry_mix": RegistryMix}
