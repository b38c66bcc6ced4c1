"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests start a local Spark session and run every workload once on
tiny inputs; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import zipfile

import pytest

from perfbench import check, gen, metrics
from perfbench.workloads import (K_CORE_K, MIX_TABLES, WORKLOADS, ExportWorkload, KCoreCall,
                                 OperatorsMixWorkload, RegistryQueries)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generators_are_deterministic(tmp_path):
    gen.write_tables(gen.mix_tables(7, sf=0.001), str(tmp_path / "a"))
    gen.write_tables(gen.mix_tables(7, sf=0.001), str(tmp_path / "b"))
    gen.write_tables(gen.mix_tables(8, sf=0.001), str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in ("lineitem.parquet", "events.parquet", "documents.parquet",
                                       "embeddings.parquet"))
    assert gen.make_graph(7, 300) == gen.make_graph(7, 300)
    assert gen.make_graph(7, 300) != gen.make_graph(8, 300)


def test_mix_tables_have_the_reference_schemas():
    tables = gen.mix_tables(3, sf=0.001)
    assert set(tables) == set(MIX_TABLES)
    docs = tables["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    ev = tables["events"]["ts"].to_pylist()
    assert ev == sorted(ev)


def test_k_core_depth_does_not_depend_on_the_seed():
    rounds = {check.ref_k_core(g["src"], g["dst"], K_CORE_K)[1]
              for g in (gen.make_graph(seed, 400) for seed in range(1, 6))}
    assert rounds == {gen.GRAPH_TAIL + 1}


TABLES = ("A", "B", "B_R_A")  # "B_R_A.csv" ends in "A.csv"


def _good_export(d):
    expected = {"A": {"rows": 2, "columns": ["id", "x"]},
                "B": {"rows": 1, "columns": ["id"]},
                "B_R_A": {"rows": 1, "columns": ["B_id", "A_id"]}}
    os.makedirs(d)
    for name, text in (("A", "id,x\n1,a\n2,b\n"), ("B", "id\n7\n"), ("B_R_A", "B_id,A_id\n7,2\n")):
        with open(os.path.join(d, f"{name}.csv"), "w") as f:
            f.write(text)
    _write_model(d, [f"{t}.csv" for t in TABLES])
    zp = os.path.join(os.path.dirname(d), "out.zip")
    with zipfile.ZipFile(zp, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in [f"{t}.csv" for t in TABLES] + [check.MODEL_FILENAME]:
            zf.write(os.path.join(d, name), arcname=name)
    return expected, zp


def _write_model(d, files):
    with open(os.path.join(d, check.MODEL_FILENAME), "w") as f:
        json.dump({"dataModel": {"graphMappingRepresentation": {"dataSourceSchema": {
            "tableSchemas": [{"name": name, "fields": []} for name in files]}}}}, f)


def _failed_ops(d, expected, zp):
    return {op for op, _ in check.verify_export(d, expected, zp)}


def test_verifier_accepts_a_complete_export(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    assert check.verify_export(d, expected, zp) == []


def test_verifier_rejects_a_truncated_csv(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    with open(os.path.join(d, "A.csv"), "w") as f:
        f.write("id,x\n1,a\n2,")
    assert _failed_ops(d, expected, zp) == {"A"}
    with open(os.path.join(d, "A.csv"), "w") as f:
        f.write("id,x\n1,a\n")
    assert _failed_ops(d, expected, zp) == {"A"}


def test_verifier_rejects_a_wrong_header(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    with open(os.path.join(d, "A.csv"), "w") as f:
        f.write("x,id\na,1\nb,2\n")
    problems = check.verify_export(d, expected, zp)
    assert [op for op, _ in problems] == ["A"] and "header" in problems[0][1]


def test_verifier_rejects_a_dropped_zip_member(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    with zipfile.ZipFile(zp, "w") as zf:
        zf.write(os.path.join(d, "A.csv"), arcname="A.csv")
        zf.write(os.path.join(d, check.MODEL_FILENAME), arcname=check.MODEL_FILENAME)
    assert _failed_ops(d, expected, zp) == {"zip"}


def test_verifier_rejects_a_model_that_drops_a_file(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    _write_model(d, ["B.csv", "B_R_A.csv"])  # A.csv is still a substring of the model
    assert _failed_ops(d, expected, zp) == {"model"}


def test_verifier_fails_the_pass_on_a_leftover_temp_dir(tmp_path):
    d = str(tmp_path / "out")
    expected, zp = _good_export(d)
    os.makedirs(os.path.join(d, "A.csv.__tmp__"))
    assert _failed_ops(d, expected, zp) == {"pass"}


def test_k_core_reference_on_a_small_graph():
    src, dst = [1, 2, 3, 3, 5, 5], [2, 3, 1, 4, 6, 5]
    assert check.ref_k_core(src, dst, 2) == ({1: 2, 2: 2, 3: 2}, 2)


def test_query_digest_ignores_order_and_catches_a_changed_value(tmp_path):
    import pyarrow as pa

    rows = [(1, "x", 0.5), (2, None, 1.25)]
    want = check.canonical_digest(["k", "s", "v"], rows)
    assert check.canonical_digest(["v", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)]) == want
    assert check.canonical_digest(["k", "s", "v"], [(1, "x", 0.5), (2, None, 1.5)]) != want
    gen.write_tables({"t": pa.table({"k": [1, 2], "s": ["x", None], "v": [0.5, 1.25]})}, str(tmp_path))
    assert check.oracle_digests(str(tmp_path), ["t"], {"q": "SELECT * FROM t"}) == {"q": want}


def test_declared_metrics_match_the_printed_ones():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


TINY = {
    "export_reference": lambda: ExportWorkload(sf=0.001),
    "operators_mix": lambda: OperatorsMixWorkload(KCoreCall(n_nodes=200), RegistryQueries(sf=0.001)),
}


@pytest.mark.parametrize("name,trace", [(n, t) for n in sorted(WORKLOADS) for t in (False, True)])
def test_tiny_smoke_pass(name, trace, monkeypatch):
    from perfbench import run

    monkeypatch.setattr(run, "WARMUP_PASSES", 0)
    assert set(TINY) == set(WORKLOADS)
    out = run.Run(TINY[name](), seed=1, seconds=0.1, trace=trace).execute()
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    declared = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
