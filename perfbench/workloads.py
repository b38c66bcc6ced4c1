"""The benchmark's workloads.

Each workload is a closed loop with one client: a pass starts only after the
previous one has finished and been verified. A workload object knows how to

- ``setup``: generate its inputs from the seed and load them (timed; the
  load alone is ``load_s``);
- ``prepare``: compute what the checks need (untimed);
- ``run_pass``: one timed pass, returning what ``verify`` needs;
- ``verify``: check one pass's outputs, returning ``(attempted, failures)``;
- ``pass_info``: the sizes (and counts) of one pass's outputs.

When a tracer is given, ``run_pass`` wraps the package's public functions in
spans for the length of the pass; the package itself is not changed.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import check, gen

# Exporter under test (package modules are imported lazily, after the
# session exists, so a checkout without the package fails cleanly).
PKG = "neo4j_database_to_data_importer_package_spark"


def _pkg(mod: str):
    import importlib

    return importlib.import_module(f"{PKG}.{mod}")


@contextlib.contextmanager
def _patched(obj, name: str, value):
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


class ExportWorkload:
    """``GraphExporter(view, single_file=True, format_version="3.0").run(create_zip_file=True)``
    over a generated star schema."""

    name = "export_reference"

    def __init__(self, sf: float):
        self.sf = sf
        self.view = None

    def setup(self, spark, input_dir: str, seed: int) -> dict:
        info = gen.write_tables(gen.star_tables(seed, self.sf), input_dir)
        star = _pkg("sources.star_schema")
        spec = dataclasses.replace(star.TPCH_GRAPH_SPEC, extra_tables=[])
        t0 = time.perf_counter()
        self.view = star.load_graph_view(spark, input_dir, spec)
        self.load_s = time.perf_counter() - t0
        self.input_dir = input_dir
        return info

    def prepare(self) -> None:
        """Expected rows and header of every output table, from the inputs.

        Node files carry every column, identifier first and the rest in
        lexicographic order; relationship files carry the two endpoint ids
        and the sorted edge properties, one row per edge whose endpoints
        both exist.
        """
        spec = self.view.spec
        cols = {t: pq.read_table(os.path.join(self.input_dir, f"{t}.parquet"))
                for t in {n.table for n in spec.nodes} | {e.table for e in spec.edges}}
        ident = {n.label: n.id_col for n in spec.nodes}
        table_of = {n.label: n.table for n in spec.nodes}
        self.expected = {}
        for n in spec.nodes:
            names = cols[n.table].column_names
            self.expected[n.label] = {
                "rows": cols[n.table].num_rows,
                "columns": [n.id_col] + sorted(c for c in names if c != n.id_col),
            }
        for e in spec.edges:
            t = cols[e.table]
            ok = np.isin(t[e.src_key].to_numpy(), cols[table_of[e.src_label]][ident[e.src_label]].to_numpy())
            ok &= np.isin(t[e.tgt_key].to_numpy(), cols[table_of[e.tgt_label]][ident[e.tgt_label]].to_numpy())
            self.expected[e.pattern_key] = {
                "rows": int(ok.sum()),
                "columns": [f"{e.src_label}_{ident[e.src_label]}",
                            f"{e.tgt_label}_{ident[e.tgt_label]}", *sorted(e.props)],
            }
        self.rows_per_pass = sum(v["rows"] for v in self.expected.values())
        self.ops_per_pass = len(self.expected) + 2  # every table, the model, the zip

    def run_pass(self, spark, pass_dir: str, tracer=None):
        exporter = _pkg("plans.exporter")
        ex = exporter.GraphExporter(self.view, os.path.join(pass_dir, "export"),
                                    format_version="3.0", single_file=True)
        with contextlib.ExitStack() as stack:
            if tracer:
                self._instrument(stack, tracer, ex, exporter)
            return ex.run(create_zip_file=True)

    def _instrument(self, stack, tracer, ex, exporter) -> None:
        for meth, span in (("detect_identifiers", "plans.exporter.identifiers"),
                           ("export_nodes", "plans.exporter.nodes"),
                           ("export_relationships", "plans.exporter.rels"),
                           ("generate_model", "plans.exporter.model")):
            setattr(ex, meth, tracer.wrap(span, getattr(ex, meth), phase=True))
        csv_name = lambda path: os.path.basename(path).removesuffix(".csv")
        for fn, span, label in (
            ("write_csv_single_file", "sinks.csv_sink.write", lambda a: csv_name(a[1])),
            ("read_first_data_row", "sinks.csv_sink.readback", lambda a: csv_name(a[0])),
            ("create_zip", "sinks.zip_sink", None),
        ):
            stack.enter_context(_patched(exporter, fn, tracer.wrap(span, getattr(exporter, fn), label=label)))

    def verify(self, result) -> tuple[int, list[tuple[str, str]]]:
        columns = {**{k: e.columns for k, e in result.manifest.nodes.items()},
                   **{k: e.all_properties for k, e in result.manifest.rels.items()}}
        problems = []
        for t, want in self.expected.items():
            if columns.get(t) != want["columns"]:
                problems.append((t, f"manifest columns {columns.get(t)} != {want['columns']}"))
        problems += check.verify_export(result.output_dir, self.expected, result.zip_path)
        return self.ops_per_pass, problems

    def pass_info(self, result) -> dict:
        """Sizes of one export: everything written, the CSVs, the zip's input."""
        csv, zip_in = check.export_file_bytes(result.output_dir)
        return {"bytes": check.output_bytes(result.output_dir, result.zip_path),
                "csv_bytes": csv, "zip_in_bytes": zip_in,
                "zip_bytes": os.path.getsize(result.zip_path)}


# One superstep loop, run to a fixpoint: persist, then per round an eager
# checkpoint and a count probe. A call costs about two seconds of
# planning-bound supersteps even on a small graph, so a run has room for one.
K_CORE_K = gen.GRAPH_MIN_DEGREE


class KCoreCall:
    """``operators.graph_algos.k_core`` on a generated hub-skewed edge list,
    followed by ``count()``."""

    ops_per_pass = 1

    def __init__(self, n_nodes: int):
        self.n_nodes = n_nodes

    def setup(self, spark, input_dir: str, seed: int) -> dict:
        import pyarrow as pa

        g = gen.make_graph(seed, self.n_nodes)
        info = gen.write_tables({
            "edges": pa.table({"src": pa.array(g["src"], pa.int64()),
                               "dst": pa.array(g["dst"], pa.int64())}),
        }, input_dir)
        self.graph = g
        t0 = time.perf_counter()
        self.edges = spark.read.parquet(os.path.join(input_dir, "edges.parquet"))
        self.load_s = time.perf_counter() - t0
        return info

    def prepare(self) -> None:
        src, dst = self.graph["src"], self.graph["dst"]
        self.reference, self.rounds = check.ref_k_core(src, dst, K_CORE_K)
        self.rows_per_pass = len(self.reference)
        self.graph_info = {"nodes": len(set(src) | set(dst)), "edges": len(src),
                           "k_core_nodes": len(self.reference), "k_core_rounds": self.rounds}

    def run_pass(self, spark, pass_dir: str, tracer=None):
        G = _pkg("operators.graph_algos")
        self.round_stats: list = []

        def span(name):
            return tracer.span(f"operators.graph_algos.k_core.{name}") if tracer else contextlib.nullcontext()

        with span("construct"):
            df = G.k_core(self.edges, k=K_CORE_K, round_stats=self.round_stats)
        with span("action"):
            df.count()
        return df

    def verify(self, df) -> tuple[int, list[tuple[str, str]]]:
        rows = df.collect()
        self.result_bytes = sum(len(",".join(map(str, r))) + 1 for r in rows)
        problems = []
        got = {r[0]: r[1] for r in rows}
        if got != self.reference:
            bad = sorted(got.keys() ^ self.reference.keys()) or \
                [v for v in self.reference if got[v] != self.reference[v]]
            problems.append(("k_core", f"{len(got)} nodes, reference {len(self.reference)}; "
                                       f"{len(bad)} differ, e.g. node {bad[0]}"))
        if len(self.round_stats) != self.rounds:
            problems.append(("k_core", f"{len(self.round_stats)} peel rounds, reference {self.rounds}"))
        return self.ops_per_pass, problems

    def pass_info(self, result) -> dict:
        return {"bytes": self.result_bytes, "k_core_rounds": len(self.round_stats)}


# One registry query per operator module the exports do not reach: for each
# module one of the cheaper queries to plan (0.2-0.6 s warm) that has a
# DuckDB oracle. ``sql`` is the pure-SQL TPC-H layer.
MIX_QUERIES = {
    "text_language_id": "text_analysis",
    "dedup_exact": "dedup",
    "embedding_dim_stats": "similarity",
    "lineitem_price_quantiles": "analytics",
    "source_gini_concentration": "statistics",
    "window_tumbling_events": "windows",
    "vocabulary_oov_rate": "retrieval",
    "identifier_detection": "identifier",
    "q14_promo_revenue_share": "sql",
}
MIX_MODULES = tuple(dict.fromkeys(MIX_QUERIES.values()))
MIX_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings")


class RegistryQueries:
    """``registry.QUERIES[q](spark, inputs)`` for each of ``MIX_QUERIES``,
    each query's rows collected."""

    ops_per_pass = len(MIX_QUERIES)

    def __init__(self, sf: float):
        self.sf = sf

    def setup(self, spark, input_dir: str, seed: int) -> dict:
        info = gen.write_tables(gen.mix_tables(seed, self.sf), input_dir)
        star = _pkg("sources.star_schema")
        t0 = time.perf_counter()
        star.load_graph_view(spark, input_dir)
        self.load_s = time.perf_counter() - t0
        self.input_dir = input_dir
        return info

    def prepare(self) -> None:
        """Each query's oracle answer, from DuckDB over the same files."""
        oracles = _pkg("registry").ORACLES
        self.reference = check.oracle_digests(self.input_dir, list(MIX_TABLES),
                                              {q: oracles[q] for q in MIX_QUERIES})
        self.rows_per_pass = sum(n for n, _ in self.reference.values())

    def run_pass(self, spark, pass_dir: str, tracer=None):
        queries = _pkg("registry").QUERIES

        def span(name):
            return tracer.span(name) if tracer else contextlib.nullcontext()

        out = {}
        for q, module in MIX_QUERIES.items():
            with span(f"operators.{module}.construct"):
                df = queries[q](spark, self.input_dir)
            with span(f"operators.{module}.action"):
                out[q] = (df.columns, df.collect())
        return out

    def verify(self, result) -> tuple[int, list[tuple[str, str]]]:
        problems = []
        self.result_bytes = 0
        for q, (columns, rows) in result.items():
            self.result_bytes += sum(len(",".join(map(str, r))) + 1 for r in rows)
            got, want = check.canonical_digest(columns, rows), self.reference[q]
            if got != want:
                problems.append((q, f"{got[0]} rows, digest {got[1][:12]}; oracle {want[0]} rows, {want[1][:12]}"))
        return self.ops_per_pass, problems

    def pass_info(self, result) -> dict:
        return {"bytes": self.result_bytes}


class OperatorsMixWorkload:
    """One pass runs the k-core, then the registry queries, on inputs
    generated into one directory; every layer no export reaches."""

    name = "operators_mix"

    def __init__(self, graph: KCoreCall, queries: RegistryQueries):
        self.parts = (graph, queries)
        self.graph = graph
        self.ops_per_pass = sum(p.ops_per_pass for p in self.parts)

    def setup(self, spark, input_dir: str, seed: int) -> dict:
        info = {}
        for p in self.parts:
            info.update(p.setup(spark, input_dir, seed))
        self.load_s = sum(p.load_s for p in self.parts)
        return info

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()
        self.rows_per_pass = sum(p.rows_per_pass for p in self.parts)
        self.graph_info = self.graph.graph_info

    def run_pass(self, spark, pass_dir: str, tracer=None):
        return [p.run_pass(spark, pass_dir, tracer) for p in self.parts]

    def verify(self, result) -> tuple[int, list[tuple[str, str]]]:
        problems = []
        for p, r in zip(self.parts, result):
            problems += p.verify(r)[1]
        return self.ops_per_pass, problems

    def pass_info(self, result) -> dict:
        info = [p.pass_info(r) for p, r in zip(self.parts, result)]
        return {**info[0], **info[1], "bytes": info[0]["bytes"] + info[1]["bytes"]}


WORKLOADS = {
    "export_reference": lambda: ExportWorkload(sf=0.03),
    "operators_mix": lambda: OperatorsMixWorkload(KCoreCall(n_nodes=400), RegistryQueries(sf=0.001)),
}
