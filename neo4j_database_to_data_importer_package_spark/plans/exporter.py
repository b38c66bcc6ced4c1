"""Export orchestration (C8, ``export_all`` at ``neo4j_export.py:1278-1333``).

The DAG has one real barrier: a relationship file needs the identifiers
chosen for its endpoint labels (``:375-380``), not the node files. After
identifier detection every table is an independent write:

  catalog → identifier detection ─┬→ node tables ─────────┬→ model JSON → zip
                                  └→ relationship tables ─┘

- Each table is one task: build its plan (``operators.node_export.export_node``
  / ``operators.rel_export.export_relationship``), write it, read back its
  1-row sample. Building the plan inside the task overlaps one table's
  plan analysis with the other tables' writes.
- ``run()`` starts the node and relationship stages at once on one shared
  pool of ``max_parallel_writes`` threads, so executors stay saturated
  instead of idling behind the slowest node write (the reference loops
  serially, ``:277``). The first task that fails cancels every task not
  yet started, in both stages, and is the error ``run()`` raises.
- The manifest is assembled in sorted key order whatever order the tasks
  finish in, so model generation (ID minting, the v3.0 stale-sample quirk)
  does not depend on scheduling.
- Nothing materializes on the driver except the manifest (column lists,
  identifiers, 1-row samples).
- ``single_file=True`` reproduces the reference's exact ``{Label}.csv``
  naming via coalesce(1)+rename; ``False`` is the 100 TB mode (sharded
  CSV + manifest per table). Both modes take the sample from the written
  CSV, so they produce the same model JSON.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from ..operators.identifier import detect_identifiers
from ..operators.node_export import export_node
from ..operators.rel_export import export_relationship
from ..sinks.csv_sink import read_first_data_row, write_csv_single_file, write_csv_sharded
from ..sinks.zip_sink import MODEL_FILENAME, create_zip, export_files
from ..sources.star_schema import GraphView
from .manifest import ExportManifest, NodeEntry, RelEntry
from .models import GENERATORS


@dataclass
class ExportResult:
    output_dir: str
    manifest: ExportManifest
    model: dict
    model_path: str
    zip_path: str | None = None
    files: list[str] = field(default_factory=list)


class GraphExporter:
    """The engine's equivalent of the reference's ``Neo4jExporter``
    driver object — orchestrates Spark jobs, owns no data."""

    def __init__(
        self,
        view: GraphView,
        output_dir: str,
        format_version: str = "3.0",
        single_file: bool = True,
        compat_render: bool = False,
        quirks: bool = True,
        use_declared_identifiers: bool = True,
        max_parallel_writes: int = 8,
        uuid_factory=None,
        clock=None,
    ) -> None:
        self.view = view
        self.output_dir = output_dir
        self.format_version = format_version
        self.single_file = single_file
        self.compat_render = compat_render
        self.quirks = quirks
        self.use_declared_identifiers = use_declared_identifiers
        self.max_parallel_writes = max_parallel_writes
        self.uuid_factory = uuid_factory
        self.clock = clock
        os.makedirs(output_dir, exist_ok=True)

    # -- stages -----------------------------------------------------------

    def detect_identifiers(self) -> dict[str, str]:
        declared = self.view.declared_identifiers() if self.use_declared_identifiers else {}
        missing = {l: df for l, df in self.view.nodes.items() if l not in declared}
        detected = detect_identifiers(missing, self.view.catalog.unique_constraints)
        return {**declared, **detected}

    def export_nodes(self, identifiers: dict[str, str], writers: _WritePool) -> dict[str, NodeEntry]:
        unique_constraints = self.view.catalog.unique_constraints

        def task(label):
            r = export_node(self.view.nodes[label], label, unique_constraints, identifiers.get(label))
            return NodeEntry(label, r.columns, r.identifier, self._write_table(label, r.df))

        return writers.map_sorted(task, self.view.nodes)

    def export_relationships(self, identifiers: dict[str, str], writers: _WritePool) -> dict[str, RelEntry]:
        specs = {spec.pattern_key: spec for spec in self.view.spec.edges}

        def task(key):
            r = export_relationship(self.view, specs[key], identifiers)
            if r is None:  # an endpoint label has no identifier
                return None
            return RelEntry(
                pattern_key=key,
                rel_type=r.spec.rel_type,
                source_label=r.spec.src_label,
                target_label=r.spec.tgt_label,
                all_properties=r.columns,
                rel_properties=r.rel_properties,
                source_id_prop=identifiers[r.spec.src_label],
                target_id_prop=identifiers[r.spec.tgt_label],
                source_col_name=r.src_col,
                target_col_name=r.tgt_col,
                sample=self._write_table(key, r.df),
            )

        entries = writers.map_sorted(task, specs)
        return {key: entry for key, entry in entries.items() if entry is not None}

    def _write_table(self, name: str, df) -> dict[str, str]:
        """Write one table; return its sample, the first data row read back
        from what was written (the first non-empty shard in sharded mode)."""
        if self.single_file:
            path = os.path.join(self.output_dir, f"{name}.csv")
            write_csv_single_file(df, path, compat_render=self.compat_render)
            row = read_first_data_row(path)
        else:
            shards = write_csv_sharded(df, self.output_dir, name)["shards"]
            rows = (
                read_first_data_row(os.path.join(self.output_dir, shard))
                for shard in sorted(shards, key=_part_number)
            )
            row = next(filter(None, rows), None)
        return dict(zip(df.columns, row)) if row else {}

    def generate_model(self, manifest: ExportManifest) -> dict:
        gen = GENERATORS[self.format_version]
        kwargs = {"unique_constraints": self.view.catalog.unique_constraints, "quirks": self.quirks}
        if self.format_version == "2.4.0":
            kwargs["constraints"] = self.view.catalog.constraints
            kwargs["indexes"] = self.view.catalog.indexes
        if self.format_version == "0.1.0" and self.uuid_factory:
            kwargs["uuid_factory"] = self.uuid_factory
        return gen(manifest, **kwargs)

    # -- the DAG ----------------------------------------------------------

    def run(self, create_zip_file: bool = False, zip_path: str | None = None) -> ExportResult:
        identifiers = self.detect_identifiers()  # the one barrier
        # Each stage waits on its own tables' tasks, so the stages run on
        # threads of their own, never on a writer thread (at
        # max_parallel_writes=1 that would deadlock).
        with _WritePool(self.max_parallel_writes) as writers, \
                ThreadPoolExecutor(max_workers=2) as stages:
            nodes = stages.submit(self.export_nodes, identifiers, writers)
            rels = stages.submit(self.export_relationships, identifiers, writers)
        if writers.failure is not None:
            raise writers.failure
        manifest = ExportManifest(nodes=nodes.result(), rels=rels.result())

        model = self.generate_model(manifest)
        model_path = os.path.join(self.output_dir, MODEL_FILENAME)
        with open(model_path, "w", encoding="utf-8") as f:
            json.dump(model, f, indent=2)

        zp = None
        if create_zip_file:
            zp = create_zip(self.output_dir, zip_path=zip_path, clock=self.clock)

        return ExportResult(
            self.output_dir, manifest, model, model_path, zp, export_files(self.output_dir)
        )


class _WritePool:
    """The writer threads one export's two stages share.

    The first table task that raises cancels every task not yet started,
    in both stages, so a failed export stops early instead of writing the
    remaining tables. That task's error is the one ``run()`` raises; the
    other stage only sees the cancellation.
    """

    def __init__(self, workers: int) -> None:
        self._pool = ThreadPoolExecutor(max_workers=workers)
        self._lock = threading.Lock()
        self.failure: BaseException | None = None

    def __enter__(self) -> _WritePool:
        return self

    def __exit__(self, *exc) -> None:
        self._pool.shutdown(wait=True)

    def map_sorted(self, task, keys) -> dict:
        """``{key: task(key)}`` in sorted key order, the pinned enumeration
        order (SURVEY §7.3 #3), with the tasks run on the writer threads."""
        ordered = sorted(keys)
        return dict(zip(ordered, self._pool.map(lambda key: self._run(task, key), ordered)))

    def _run(self, task, key):
        try:
            return task(key)
        except BaseException as e:
            with self._lock:
                if self.failure is None:
                    self.failure = e
            self._pool.shutdown(wait=False, cancel_futures=True)
            raise


def _part_number(shard: str) -> int:
    """Spark's task number in a ``part-NNNNN-…`` shard file name."""
    return int(os.path.basename(shard).split("-")[1])
