"""Per-layer metrics of a traced run, computed from its spans.

Only traced ops count (the runner traces every other op of each
kind). A `*_s` metric is the time an op spends in that
layer, averaged over the traced ops that entered it; `self` means the
span's duration minus that of the spans it called. Counters read from
`icelake_spark.metrics.REGISTRY` cover the whole timed phase.
"""

from __future__ import annotations

import os
from collections import defaultdict

MANIFEST_READS = ("planning.read_manifest", "transaction.read_manifest")
MANIFEST_LIST_READS = ("planning.read_manifest_list",
                       "transaction.read_manifest_list")
DML_KINDS = ("upsert", "delete")
WRITE_KINDS = ("append", "upsert", "delete", "compact")
READ_KINDS = ("lookup", "scan")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _registry_total(snap: dict, name: str) -> float:
    return sum(snap.get(name, {}).values())


def layer_metrics(tracer, records, workload, table_dir: str,
                  before: dict, after: dict, session_s: float) -> dict:
    spans = tracer.spans
    self_t = tracer.self_times()
    kind = [r.kind for r in records]
    n_traced = sum(r.traced for r in records)

    def per_op(names, use_self=False, top_only=False) -> float:
        """Time in spans named `names`, per traced op that entered them."""
        names = (names,) if isinstance(names, str) else names
        by_op: dict[int, float] = defaultdict(float)
        for i, s in enumerate(spans):
            if s.name not in names:
                continue
            if top_only and any(a in names for a in tracer.ancestors(i)):
                continue
            by_op[s.op] += self_t[i] if use_self else s.end - s.start
        return _ratio(sum(by_op.values()), len(by_op))

    def infos(name, kinds=None) -> list[dict]:
        return [s.info for s in spans if s.name == name
                and (kinds is None or kind[s.op] in kinds)]

    def count_per_op(names) -> float:
        return _ratio(sum(s.name in names for s in spans), n_traced)

    m: dict[str, float] = {"session.start_s": session_s}

    # catalog
    m["catalog.load_s"] = per_op(("catalog.load_table",
                                  "catalog.load_metadata"), top_only=True)
    m["catalog.commit_s"] = per_op("catalog.update_table")
    entries = [s.info["n"] for s in spans
               if s.name == "fileio.list_files" and s.parent is not None
               and spans[s.parent].name == "catalog.load_metadata"]
    m["catalog.metadata_dir_entries"] = _ratio(sum(entries), len(entries))
    version = workload.catalog.load_table(workload.ident).current_version
    m["catalog.metadata_json_bytes"] = os.path.getsize(os.path.join(
        table_dir, "metadata", f"v{version}.metadata.json"))
    retries = "iceberg_commit_conflict_retry_total"
    m["catalog.conflict_retries"] = (_registry_total(after, retries)
                                     - _registry_total(before, retries))

    # transaction
    m["transaction.commit_s"] = per_op("transaction.commit", use_self=True)
    lists = infos("transaction.write_manifest_list")
    m["transaction.manifests_per_list"] = _ratio(
        sum(i["n"] for i in lists), len(lists))
    written = sum(i["bytes"] for i in lists) + sum(
        i["bytes"] for i in infos("transaction.write_manifest"))
    m["transaction.manifest_bytes"] = _ratio(
        written, sum(s.name == "transaction.commit" for s in spans))

    # write
    m["write.data_files_s"] = per_op("write.write_data_files", top_only=True)
    m["write.stats_s"] = per_op("write.build_data_file")
    files = infos("write.write_data_files")
    m["write.files_per_commit"] = _ratio(sum(i["n"] for i in files), len(files))
    task_s = [sum(r.jobs) for r in records
              if r.traced and r.kind in WRITE_KINDS]
    m["write.spark_task_s"] = _ratio(sum(task_s), len(task_s))
    user = sum(r.user_bytes for r in records
               if r.traced and r.kind in ("append", "upsert"))
    m["write.data_bytes_per_user_byte"] = _ratio(sum(
        i["bytes"] for i in infos("write.write_data_files",
                                  ("append", "upsert"))), user)

    # planning
    plans = [(i, s) for i, s in enumerate(spans)
             if s.name == "planning.plan_files"]
    m["planning.plan_s"] = per_op("planning.plan_files")
    m["planning.manifest_decode_s"] = per_op(MANIFEST_READS
                                             + MANIFEST_LIST_READS)
    in_plan = [s for s in spans if s.parent is not None
               and spans[s.parent].name == "planning.plan_files"]
    m["planning.manifests_opened_ratio"] = _ratio(
        sum(s.name == "planning.read_manifest" for s in in_plan),
        sum(s.info["n"] for s in in_plan
            if s.name == "planning.read_manifest_list"))
    m["planning.file_keep_ratio"] = _ratio(
        sum(s.info["kept"] for _, s in plans),
        sum(s.info["total"] for _, s in plans))
    seen, again, reads = set(), 0, 0
    for s in sorted((s for s in spans if s.name in MANIFEST_READS),
                    key=lambda s: s.start):
        reads += 1
        again += s.info["path"] in seen
        seen.add(s.info["path"])
    m["planning.manifest_reread_share"] = _ratio(again, reads)

    # table (read path)
    read_recs = [r for r in records if r.traced and r.kind in READ_KINDS]
    m["table.exec_s"] = _ratio(sum(r.exec_s for r in read_recs), len(read_recs))
    read_plans = [s.info for _, s in plans
                  if kind[s.op] in READ_KINDS and s.parent is None]
    m["table.files_read"] = _ratio(sum(i["kept"] for i in read_plans),
                                   len(read_plans))
    lookup_plans = [s.info for _, s in plans
                    if kind[s.op] == "lookup" and s.parent is None]
    matched = sum(r.result.matched for r in read_recs if r.kind == "lookup")
    m["table.rows_examined_per_row_returned"] = _ratio(
        sum(i["rows"] for i in lookup_plans), matched)
    m["table.delete_files_applied"] = _ratio(
        sum(i["deletes"] for i in read_plans), len(read_plans))
    m["table.spark_jobs"] = _ratio(sum(len(r.jobs) for r in read_recs),
                                   len(read_recs))

    # delta (merge-on-read DML)
    m["delta.upsert_s"] = per_op("delta.upsert", use_self=True)
    m["delta.delete_s"] = per_op("delta.delete_rows", use_self=True)
    dml = [r for r in records if r.traced and r.kind in DML_KINDS]
    m["delta.spark_jobs"] = _ratio(sum(len(r.jobs) for r in dml), len(dml))
    m["delta.rows_scanned_per_row_deleted"] = _ratio(
        sum(i["rows"] for i in infos("planning.plan_files", ("delete",))),
        sum(r.rows for r in dml if r.kind == "delete"))
    for key, name in (("delta.eq_delete_rows", "iceberg_eq_delete_qps"),
                      ("delta.pos_delete_rows", "iceberg_pos_delete_qps")):
        m[key] = _registry_total(after, name) - _registry_total(before, name)

    # maintenance
    m["maintenance.compact_s"] = per_op("maintenance.rewrite_data_files")
    compacts = infos("write.write_data_files", ("compact",))
    m["maintenance.bytes_rewritten_per_user_byte"] = _ratio(
        _ratio(sum(i["bytes"] for i in compacts), len(compacts)),
        workload.live_bytes)

    # fileio
    m["fileio.list_calls"] = count_per_op(("fileio.list_files",))
    m["fileio.files_created"] = count_per_op(("fileio.write_bytes",
                                              "fileio.create_exclusive"))

    # tracing overhead: traced vs untraced ops of the same mix
    for key, flag in (("trace.traced_ops_per_s", True),
                      ("trace.untraced_ops_per_s", False)):
        xs = [r.seconds for r in records if r.traced == flag]
        m[key] = _ratio(len(xs), sum(xs))
    return m
