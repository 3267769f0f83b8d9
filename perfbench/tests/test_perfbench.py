"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
for p in (os.path.join(ROOT, "tools"), ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

from perfbench import datagen, metrics, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, covered, parse_metric_value  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    def make(seed: int, name: str) -> dict[str, bytes]:
        dest = str(tmp_path / name)
        datagen.write_raw_csvs(dest, seed, (2022, 2023), 200)
        return _tree_bytes(dest)

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_generator_expectations_count_survivors(tmp_path):
    exp = datagen.write_raw_csvs(str(tmp_path), 3, (2022, 2023), 500)
    assert 0 < exp.fact_rows < 1000  # some constraint violators are dropped
    assert exp.raw_bytes == sum(os.path.getsize(p) for y in exp.year_files.values() for p in y.values())


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    rng = random.Random(n)
    samples = [rng.random() for _ in range(n)]
    value, pct = metrics.tail_percentile(samples)
    beyond = sum(s > value for s in samples)
    assert beyond == 10
    assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        metrics.tail_percentile([1.0] * 10)


def _span(tracer: Tracer, name: str, parent, start: float, end: float, **counters) -> Span:
    s = Span(len(tracer.spans), name, parent.id if parent else None, tracer.run_id, start, end)
    s.counters.update(counters)
    tracer.spans.append(s)
    return s


def test_self_time_subtracts_union_of_children():
    t = Tracer("r")
    root = _span(t, "etl.run_pipeline", None, 0.0, 10.0, jobs=9.0)
    _span(t, "etl.merge_year", root, 1.0, 4.0, jobs=3.0)
    _span(t, "etl.clean", root, 3.0, 6.0, jobs=2.0)  # overlaps the first child
    _span(t, "sources.write_parquet", root, 9.0, 12.0, jobs=1.0)  # runs past the parent
    assert t.self_time(root) == pytest.approx(10.0 - (5.0 + 1.0))
    assert t.self_counters(root)["jobs"] == pytest.approx(3.0)
    assert covered([(0, 1), (0.5, 2), (5, 6)], 0, 10) == pytest.approx(3.0)


def test_self_time_of_nested_spans_from_the_context_manager():
    t = Tracer("r")
    with t.span("bench.op") as op:
        with t.span("plans.build") as build:
            pass
    assert op.parent is None and build.parent == op.id
    assert t.self_time(op) == pytest.approx(op.duration - build.duration)
    assert all(r["run_id"] == "r" for r in t.records())


class _FakeFrame:
    def __init__(self, rows):
        self.columns = ["k", "v"]
        self._rows = rows

    def collect(self):
        return self._rows


def test_failing_and_wrong_operations_count_as_failed():
    mix = workloads.RegistryMix.__new__(workloads.RegistryMix)
    good = [(1, 2.0), (3, 4.0)]
    mix.data_dir = "unused"
    mix.ops = [("ok_op", "plans.execute"), ("wrong_op", "plans.execute"), ("raising_op", "plans.execute")]
    mix.expected = {name: workloads.multiset(["k", "v"], good) for name, _ in mix.ops}

    def boom(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    mix.queries = {
        "ok_op": lambda spark, sf_dir: _FakeFrame(list(reversed(good))),
        "wrong_op": lambda spark, sf_dir: _FakeFrame([(1, 2.0)]),
        "raising_op": boom,
    }
    result = mix.run_pass(None, random.Random(0), None)
    attempted, failed = workloads.tally([result])
    assert (attempted, failed) == (3, 2)
    by_name = {op.name: op for op in result.ops}
    assert by_name["ok_op"].ok
    assert "RuntimeError" in by_name["raising_op"].error


def test_registry_tables_are_all_present():
    from processo_etl_spark import catalog

    for table in catalog.TABLES:
        assert os.path.isfile(catalog.table_path(workloads.DATA_DIR, table)), table


def test_star_check_reports_violations(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(table, **cols):
        os.makedirs(tmp_path / table)
        pq.write_table(pa.table(cols), str(tmp_path / table / "part-0.parquet"))

    write("dim_tempo", dia_semana=["domingo", "feriado?"], fase_dia=["Dia", "Noite"], id_tempo=[1, 2])
    write("dim_rodovia", sentido_via=["Crescente"], tipo_pista=["Dupla"], uso_solo=["Rural"], id_rodovia=[1])
    write("dim_local", uf=["SC"], id_local=[1])
    write("dim_descritivo", condicao_metereologica=["Sol"], classificacao_acidente=["Sem Vítimas"], id_descritivo=[1])
    write("dim_veiculo", marca=["VW"], id_veiculo=[1])
    write(
        "fato_acidentes", id_tempo=[1, 2], id_rodovia=[1, 1], id_local=[1, 7], id_descritivo=[1, 1],
        id_veiculo=[1, 1], pessoas_envolvidas=[2, 1], veiculos_envolvidos=[1, 1], feridos=[1, 3], obitos=[0, 0],
    )
    problems = workloads.check_star(duckdb.connect(), str(tmp_path), fact_rows=2)
    assert set(problems) == {"dim_tempo", "fato_acidentes"}
    assert any("out-of-domain dia_semana" in p for p in problems["dim_tempo"])
    assert any("unresolved id_local" in p for p in problems["fato_acidentes"])
    assert any("obitos/feridos > pessoas" in p for p in problems["fato_acidentes"])


def _record(name: str, self_s: float, **counters) -> dict:
    return {"name": name, "self_s": self_s, "self_counters": counters}


def test_per_layer_reads_steady_passes_and_cold_codegen_apart():
    cold = [
        _record("etl.clean", 9.0, codegen_compiles=40.0, codegen_compile_ms=800.0, exec_ms=5000.0),
        _record("plans.build", 2.0, codegen_compiles=3.0),
    ]
    steady = [
        [_record("etl.clean", 1.0, codegen_compiles=2.0, exec_ms=400.0)],
        [_record("etl.clean", 3.0, exec_ms=600.0)],
    ]
    out = metrics.per_layer(cold, steady, [2.0, 4.0], {"trace.overhead_s": 0.5})
    assert out["etl.clean_s"] == pytest.approx(2.0)  # (1 + 3) / 2: the cold 9 s is left out
    assert out["etl.exec_s"] == pytest.approx(0.5)
    assert out["etl.codegen_compiles"] == pytest.approx(1.0)
    assert out["etl.cold_codegen_compiles"] == pytest.approx(40.0)
    assert out["etl.cold_codegen_compile_ms"] == pytest.approx(800.0)
    assert out["plans.cold_codegen_compiles"] == pytest.approx(3.0)
    assert out["etl.driver_only_s"] == pytest.approx(((2.0 - 0.4) + (4.0 - 0.6)) / 2)
    assert out["trace.overhead_s"] == 0.5
    assert set(out) == {name for name, *_ in metrics.PER_LAYER}


def test_parse_metric_value():
    assert parse_metric_value("1,024.0 KiB") == 1024 * 1024
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms)") == 1500
    assert parse_metric_value("6,000") == 6000


def test_metric_names_and_benchmark_file_agree():
    names = [n for n, *_ in metrics.END_TO_END + metrics.REPORTED + metrics.PER_LAYER]
    for name in names:
        assert metrics.NAME_RE.fullmatch(name), name
    assert len(names) == len(set(names))
    assert set(metrics.SPAN_TIMINGS) <= set(names)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == workloads.WHY
    assert bench["end_to_end"] == [
        {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in metrics.END_TO_END
    ]
    # Per-layer entries carry exactly these keys; the metric each should
    # move is in metrics.PER_LAYER and in the traced run's artifact.
    assert bench["per_layer"] == [
        {"name": n, "unit": u, "better": b} for n, u, b, _ in metrics.PER_LAYER
    ]


def test_patched_wraps_every_binding_and_restores(monkeypatch):
    from perfbench.trace import patched

    mod = type(sys)("processo_etl_spark._perfbench_fake")
    copy = type(sys)("processo_etl_spark._perfbench_fake_copy")
    mod.f = copy.f = original = lambda x: x + 1  # a "from mod import f" copy
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, copy.__name__, copy)
    t = Tracer("r")
    with patched(t, {"fake.f": original}):
        assert mod.f is not original and copy.f is mod.f
        assert copy.f(1) == 2
    assert mod.f is original and copy.f is original
    assert [s.name for s in t.spans] == ["fake.f"]
