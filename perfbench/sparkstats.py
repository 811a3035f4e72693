"""Per-op layer totals read from Spark's status stores (UI off).

Each op runs under its own job group, whose description is the op id.
After the run, ``op_layers`` groups every job by that group (stage totals
from the AppStatusStore) and every SQL execution by its description (plan
node metrics from the SQLAppStatusStore), and maps plan nodes to modules:

- ``BatchScan xmlhive``                 → ``sources.xml_datasource``
- Python evaluation nodes (``MapInArrow``, ``ArrowEvalPython``, ...)
                                        → ``operators`` (the Python boundary)
- everything else                      → the JVM operator/exchange layers,
                                          reported as stage totals
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = {
    # StageData getter → (metric, scale to seconds/bytes)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}
_SCAN_METRICS = {
    "number of output rows": "rows_out",
    "data returned from Python workers": "arrow_bytes_out",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number (seconds, bytes or a
    count): ``'520 ms'``, ``'6.1 KiB'``, ``'5,052'``, or the multi-line
    ``'total (min, med, max ...)\\n9.6 s (205 ms, ...)'`` form."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    num, _, unit = text.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def _seq(conv, scala_seq) -> list:
    return list(conv.asJava(scala_seq))


def op_layers(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """``{group: {metric: total}}`` for the given job groups."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    wanted = set(groups)
    out: dict[str, dict[str, float]] = {g: {} for g in groups}

    app = sc._jsc.sc().statusStore()
    stages: dict[str, set[int]] = {g: set() for g in groups}
    for job in _seq(conv, app.jobsList(None)):
        grp = job.jobGroup()
        if grp.isDefined() and grp.get() in wanted:
            stages[grp.get()].update(_seq(conv, job.stageIds()))
    for g, ids in stages.items():
        tot = out[g]
        for metric, _ in _STAGE_FIELDS.values():
            tot[metric] = 0.0
        tot["scan_stage_run_s"] = 0.0
        for sid in ids:
            try:
                sd = app.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted (skipped)
                continue
            for getter, (metric, scale) in _STAGE_FIELDS.items():
                tot[metric] += getattr(sd, getter)() * scale
            if sd.shuffleReadBytes() == 0 and sd.shuffleWriteBytes() > 0:
                # a stage that reads no shuffle but feeds one is a scan stage
                tot["scan_stage_run_s"] += sd.executorRunTime() * 1e-3

    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(conv, sql.executionsList()):
        g = ex.description()
        if g not in wanted:
            continue
        tot = out[g]
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        seen: set[int] = set()  # reused subtrees list one metric twice
        for node in _seq(conv, sql.planGraph(ex.executionId()).allNodes()):
            name = node.name()
            if name.startswith("BatchScan xmlhive"):
                prefix, table = "scan.", _SCAN_METRICS
            elif _PY_NODE.search(name):
                prefix, table = "py.", _PY_METRICS
            else:
                continue
            for m in _seq(conv, node.metrics()):
                key = table.get(m.name())
                acc = m.accumulatorId()
                raw = values.get(acc)
                if key is None or raw is None or acc in seen:
                    continue
                seen.add(acc)
                tot[prefix + key] = tot.get(prefix + key, 0.0) + parse_metric(raw)
    return out


def cached_entries(spark) -> int:
    """Relations the cache manager holds right now."""
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())
