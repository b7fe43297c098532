"""Per-layer metrics of a traced pass, named ``<module>.<metric>``, computed
from the spans (``spans.py``) and the folded event log (``eventlog.py``).
README.md maps each layer to the end-to-end figure it should move and the
workload it is heavy on.  A layer that does no work on a workload reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import CLASSES
from workloads import REGISTRY_QUERIES

GENERIC = ("wall_s", "self_s", "driver_s", "exec_run_s", "exec_cpu_s", "gc_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "tasks", "failed_tasks")
# spans whose generic figures are reported under their own name
TOP_SPANS = {
    "streaming.ingest.run_ingest": "streaming.ingest.run",
    "tocsv.tocsv_all": "tocsv.tocsv_all",
    "sinks.postgres.inject": "sinks.postgres.inject",
    "plans.queries": "plans.queries",
}
_TOCSV_CLASSES = ("scan", "window", "exchange", "project", "write")


def _q(values: list[float], p: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(p * 100) - 1]


def layer_metrics(spans: list, folded: dict[int, dict], extra: dict) -> dict[str, float]:
    """``extra`` carries what the spans cannot see: ``get_spark_s``,
    ``first_python_task_s``, ``staged_mb``, ``csv_rows``, ``csv_mb``."""
    by_name: dict[str, list] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def total(name: str, key: str) -> float:
        return float(sum(folded[s.id][key] for s in by_name.get(name, [])))

    def walls(name: str) -> list[float]:
        return [s.wall for s in by_name.get(name, [])]

    m: dict[str, float] = {
        "session.get_spark_s": extra.get("get_spark_s", 0.0),
        "session.first_python_task_s": extra.get("first_python_task_s", 0.0),
    }

    # staging: from run_ingest's start to its first post-staging child
    stage_s = 0.0
    for run in by_name.get("streaming.ingest.run_ingest", []):
        after = [s.start for s in spans
                 if s.parent == run.id and s.name != "streaming.ingest.stage_batch"]
        stage_s += (min(after) if after else run.end) - run.start
    batches = sorted(walls("streaming.ingest.stage_batch"))
    m.update({
        "streaming.ingest.stage_s": stage_s,
        "streaming.ingest.batches": float(len(batches)),
        "streaming.ingest.batch_p50_s": _q(batches, 0.5),
        "streaming.ingest.batch_p90_s": _q(batches, 0.9),
        "streaming.ingest.staged_mb": extra.get("staged_mb", 0.0),
        "streaming.ingest.stage.exec_run_s": total("streaming.ingest.stage_batch", "exec_run_s"),
        "streaming.ingest.stage.driver_s": total("streaming.ingest.stage_batch", "driver_s"),
    })
    checks = len(by_name.get("streaming.ingest.order_check", []))
    scans = len(by_name.get("streaming.ingest.order_check_scan", []))
    m["streaming.ingest.order_check_s"] = (
        sum(walls("streaming.ingest.order_check")) + sum(walls("streaming.ingest.order_check_scan")))
    m["streaming.ingest.order_check_fallbacks"] = scans / checks if checks else 0.0

    demux = by_name.get("streaming.ingest.demux", [])
    m.update({
        "streaming.ingest.demux_s": sum(walls("streaming.ingest.demux")),
        "streaming.ingest.demux_driver_s": total("streaming.ingest.demux", "driver_s"),
        "streaming.ingest.demux_files": float(sum(
            len(v) for s in demux if isinstance(s.result, dict) for v in s.result.values())),
        "streaming.ingest.demux.exec_run_s": total("streaming.ingest.demux", "exec_run_s"),
        "streaming.ingest.demux.shuffle_write_mb": total("streaming.ingest.demux", "shuffle_write_mb"),
    })

    runs = [s.result for s in by_name.get("operators.poi.discover_runs", []) if s.result]
    folds = by_name.get("operators.poi.sorted_fold", [])
    m.update({
        "operators.poi.discover_runs_s": sum(walls("operators.poi.discover_runs")),
        "operators.poi.chain_s": sum(walls("operators.poi.chain")),
        "operators.poi.poi_tocsv_s": sum(walls("operators.poi.poi_tocsv")),
        "operators.poi.blocks": float(sum(len({r[0] for r in rs}) for rs in runs)),
        "operators.poi.sorted_fold_used": (
            sum(1 for s in folds if s.result is not None) / len(folds) if folds else 0.0),
        "operators.poi.chain.exec_run_s": total("operators.poi.chain", "exec_run_s"),
        "operators.poi.chain.driver_s": total("operators.poi.chain", "driver_s"),
        "operators.poi.chain.python_init_s": total("operators.poi.chain", "python_init_s"),
        "operators.poi.chain.python_run_s": total("operators.poi.chain", "python_run_s"),
    })

    tocsv_wall = sum(walls("tocsv.tocsv_all"))
    entity_sum = sum(walls("tocsv.tocsv"))
    m.update({
        "tocsv.entity_s_sum": entity_sum,
        "tocsv.overlap": entity_sum / tocsv_wall if tocsv_wall else 0.0,
        "tocsv.last_event_block_s": sum(walls("tocsv.last_event_block")),
        "tocsv.version_rows": float(extra.get("csv_rows", 0)),
    })
    for c in _TOCSV_CLASSES:
        m[f"tocsv.exec.{c}_s"] = total("tocsv.tocsv_all", f"class_{c}_s")

    bundles = by_name.get("operators.bundles.write", [])
    m.update({
        "operators.bundles.write_s": sum(walls("operators.bundles.write")),
        "operators.bundles.driver_s": total("operators.bundles.write", "driver_s"),
        "operators.bundles.files": float(sum(
            len(s.result) for s in bundles if isinstance(s.result, list))),
    })

    inject = by_name.get("sinks.postgres.inject", [])
    task_walls = sorted(w for s in inject for w in folded[s.id]["task_walls_s"])
    p50 = _q(task_walls, 0.5)
    m.update({
        "sinks.postgres.inject_s": sum(walls("sinks.postgres.inject")),
        "sinks.postgres.files": float(sum(s.result for s in inject if isinstance(s.result, int))),
        "sinks.postgres.rows": float(extra.get("csv_rows", 0)),
        "sinks.postgres.mb": extra.get("csv_mb", 0.0),
        "sinks.postgres.task_p50_s": p50,
        "sinks.postgres.task_max_s": task_walls[-1] if task_walls else 0.0,
        "sinks.postgres.task_skew": task_walls[-1] / p50 if p50 else 0.0,
        "sinks.postgres.retried_tasks": total("sinks.postgres.inject", "retried_tasks"),
    })

    for q in REGISTRY_QUERIES:
        base = f"plans.queries.{q}"
        m.update({
            f"{base}.build_s": sum(walls(f"{base}.build")),
            f"{base}.exec_s": sum(walls(f"{base}.exec")),
            f"{base}.build_jobs": total(f"{base}.build", "own_jobs"),
            f"{base}.python_init_s": total(base, "python_init_s"),
            f"{base}.python_run_s": total(base, "python_run_s"),
            f"{base}.python_mb": total(base, "python_mb"),
        })

    # generic figures of the top-level spans; the registry's are summed
    # over its query spans
    for span_name, label in TOP_SPANS.items():
        names = ([f"plans.queries.{q}" for q in REGISTRY_QUERIES]
                 if span_name == "plans.queries" else [span_name])
        for key in GENERIC:
            m[f"{label}.{key}"] = sum(total(n, key) for n in names)

    # every span name's generic figures, for the full trace record
    full = dict(m)
    for name in sorted(by_name):
        for key in GENERIC + tuple(f"class_{c}_s" for c in CLASSES) + (
                "python_init_s", "python_run_s", "python_mb", "jobs"):
            full.setdefault(f"span.{name}.{key}", total(name, key))
        full[f"span.{name}.count"] = float(len(by_name[name]))
    return full
