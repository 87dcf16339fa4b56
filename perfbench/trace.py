"""Out-of-program tracing for the table-engine benchmark.

`Tracer.install()` replaces, for the length of a traced run, the public
functions of each engine layer with wrappers that record a span (name,
start, end, parent, op id) in memory. Each wrapper goes on the name the
caller binds: `planning.read_manifest` rather than
`types.manifest.read_manifest`, and methods on their classes, so the
engine's own code is untouched. `uninstall()` puts the originals back.

A span opened on a pool thread with no open span of its own takes as
parent the innermost span open on the benchmark's thread, so the
manifest reads `plan_serial` fans out to its pool count as children of
`TableScan.plan_files`. Self time is a span's duration minus the union
of its children's intervals.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    info: dict = field(default_factory=dict)


def _n_result(_args, _kwargs, result) -> dict:
    return {"n": len(result)}


def _path_arg(args, _kwargs, _result) -> dict:
    return {"path": args[0]}


def _manifest_list_written(args, _kwargs, _result) -> dict:
    from icelake_spark.fileio import resolve_io

    return {"n": len(args[1]), "bytes": resolve_io(args[0]).size(args[0])}


def _manifest_written(_args, _kwargs, result) -> dict:
    return {"bytes": result.manifest_length}


def _files_written(_args, _kwargs, result) -> dict:
    return {"n": len(result),
            "bytes": sum(f.file_size_in_bytes for f in result)}


def _plan_result(args, _kwargs, result) -> dict:
    scan = args[0]
    data, pos, eq = result
    snap = scan.table.snapshot(scan.snapshot_id, scan.as_of_ms, scan.ref)
    total = int(snap.summary.get("total-data-files", 0)) if snap else 0
    return {"kept": len(data), "total": total, "deletes": len(pos) + len(eq),
            "rows": sum(t.data_file.record_count for t in data)}


def _targets():
    """(owner, attribute, span name, result hook) for every traced
    call site, each on the name its caller binds."""
    from icelake_spark import delta, maintenance, planning, table, transaction, write
    from icelake_spark.catalog import storage
    from icelake_spark.fileio import LocalFileIO

    return [
        (storage, "load_metadata", "catalog.load_metadata", None),
        (storage.StorageCatalog, "load_table", "catalog.load_table", None),
        (storage.StorageCatalog, "update_table", "catalog.update_table", None),
        (transaction.Transaction, "commit", "transaction.commit", None),
        (transaction, "write_manifest", "transaction.write_manifest",
         _manifest_written),
        (transaction, "write_manifest_list", "transaction.write_manifest_list",
         _manifest_list_written),
        (transaction, "read_manifest", "transaction.read_manifest", _path_arg),
        (transaction, "read_manifest_list", "transaction.read_manifest_list",
         _n_result),
        (write, "write_data_files", "write.write_data_files", _files_written),
        (maintenance, "write_data_files", "write.write_data_files",
         _files_written),
        (write, "_build_data_file", "write.build_data_file", None),
        (table.TableScan, "plan_files", "planning.plan_files", _plan_result),
        (table, "read_manifest_list", "planning.read_manifest_list", _n_result),
        (planning, "read_manifest", "planning.read_manifest", _path_arg),
        (delta, "upsert", "delta.upsert", None),
        (maintenance, "delete_where", "delta.delete_rows", None),
        (maintenance, "rewrite_data_files", "maintenance.rewrite_data_files",
         None),
        (LocalFileIO, "list_files", "fileio.list_files", _n_result),
        (LocalFileIO, "write_bytes", "fileio.write_bytes", None),
        (LocalFileIO, "create_exclusive", "fileio.create_exclusive", None),
    ]


class Tracer:
    """Records spans while `enabled`; the benchmark sets `op` to the id
    of the op in flight before each call into the engine."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._main_stack: list[int] = []        # the benchmark's thread
        self._local = threading.local()
        self._local.stack = self._main_stack

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _wrap(self, fn, name: str, hook):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parent = stack[-1] if stack else (
                tracer._main_stack[-1] if tracer._main_stack else None)
            span = Span(name, time.perf_counter(), parent=parent, op=tracer.op)
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()
            if hook is not None:
                span.info = hook(args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        for owner, attr, name, hook in _targets():
            fn = getattr(owner, attr)
            self._patches.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, hook))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    # ------------------------------------------------------------ analysis

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s.start
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append(s.end - s.start - covered)
        return out

    def ancestors(self, i: int) -> list[str]:
        names = []
        p = self.spans[i].parent
        while p is not None:
            names.append(self.spans[p].name)
            p = self.spans[p].parent
        return names
