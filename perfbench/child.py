"""One benchmark process: start a SparkSession, then time or trace a workload.

    python3 perfbench/child.py <config.json>

The config names the mode (``time`` or ``trace``), the workload,
the input directory and where to write the result JSON. ``run.py`` starts
each child with its working directory, Spark local dirs and temp dirs inside
a scratch directory of the checkout.
"""

from __future__ import annotations

import json
import os
import sys
import time

T_IMPORT = time.time()

from workloads import TABLES, WORKLOADS, check, force, run_op  # noqa: E402

MIN_OPS = 3  # timed operations in a run, at least


def _proc_tree() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    return kids


def _status(pid: int) -> dict:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def peak_rss_mb() -> float:
    """Summed kernel high-water RSS (VmHWM) of this process's JVM and the
    Python workers below it."""
    kids = _proc_tree()
    total_kb, stack = 0, list(kids.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        st = _status(p)
        name = st.get("Name", "").strip()
        if name == "java" or name.startswith("python"):
            total_kb += int(st.get("VmHWM", "0 kB").split()[0])
        stack.extend(kids.get(p, []))
    return total_kb / 1024.0


def start_session(cfg: dict, extra_conf: dict | None = None):
    """get_spark plus the footer reads of every input table; returns
    (spark, seconds inside get_spark)."""
    from tree_sitter_codeviews_spark import session
    from tree_sitter_codeviews_spark.sources.testdata import load_table

    # keep the compiled filesystem shim inside the checkout's scratch area
    session._SHIM_CACHE = cfg["shim_dir"]
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    t0 = time.time()
    spark = session.get_spark("perfbench", cores=cfg.get("cores"), extra_conf=conf)
    session_s = time.time() - t0
    for t in TABLES:
        load_table(spark, cfg["sf_dir"], t)
    return spark, session_s


def _op(spark, w, cfg: dict, res: dict):
    """One operation, counted in attempted/failed; None if it raised."""
    res["attempted"] += 1
    try:
        return run_op(spark, w, cfg["sf_dir"])
    except Exception as e:  # counted, not fatal: failed_frac reports it
        res["failed"] += 1
        res["errors"].append(f"{type(e).__name__}: {e}"[:300])
        return None


def timed_ops(spark, w, cfg: dict, res: dict) -> dict:
    """Timed operations until ``budget_s`` is spent and at least MIN_OPS
    succeeded."""
    out = {"walls": [], "query_walls": {}}
    t_end = time.perf_counter() + cfg["budget_s"]
    while (len(out["walls"]) < MIN_OPS or time.perf_counter() < t_end) \
            and res["failed"] < 3:
        r = _op(spark, w, cfg, res)
        if r is not None:
            out["walls"].append(r[0])
            for q, s in r[1].items():
                out["query_walls"].setdefault(q, []).append(s)
    return out


def run_child(cfg: dict) -> dict:
    """time: the correctness check if asked
    (it runs every query once, which also warms Python workers and the
    codegen caches), untimed operations for ``warm_s`` and at least
    ``warm_ops`` of them (default one: the JIT keeps compiling for several
    operations), then timed operations.
    trace: the same, then the traced phase in a session rebuilt with the
    event log on."""
    from tree_sitter_codeviews_spark import session

    w = WORKLOADS[cfg["workload"]]
    res = {"attempted": 0, "failed": 0, "errors": []}
    spark, res["session_s"] = start_session(cfg)
    res["setup_s"] = time.time() - cfg["t_spawn"]
    if cfg["check"]:
        res["check_s"] = {}
        for q, (err, secs) in check(spark, w, cfg["sf_dir"], cfg["out_dir"]).items():
            res["check_s"][q] = secs
            res["attempted"] += 1
            if err:
                res["failed"] += 1
                res["errors"].append(f"check {q}: {err}")
    t0 = time.perf_counter()
    res["warmup_ops"] = 0
    while res["warmup_ops"] < cfg.get("warm_ops", 1) or time.perf_counter() - t0 < cfg["warm_s"]:
        _op(spark, w, cfg, res)
        res["warmup_ops"] += 1
    res["warmup_s"] = time.perf_counter() - t0
    res["n"] = timed_ops(spark, w, cfg, res)
    res["peak_rss_mb"] = peak_rss_mb()
    if cfg["mode"] == "trace":
        # the engine's way to rebuild a session with another configuration
        session.stop_spark()
        os.makedirs(cfg["event_dir"])
        spark, res["traced_session_s"] = start_session(cfg, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + cfg["event_dir"]})
        res["trace"] = trace_phase(spark, cfg, res)
        spark.stop()  # closes the event log
        res["trace"].update(fold_event_log(cfg["event_dir"], res["trace"]["marks"]))
    return res


# ---------------------------------------------------------------------------
# traced mode
# ---------------------------------------------------------------------------

POINT_QUERIES = ("geo_cell_encode", "geo_s2_encode", "geo_pip_best",
                 "geo_pip_salted", "geo_tiles")


def flagship_prefixes(spark, sf_dir: str):
    """Cumulative prefixes of geo_pip_entities, each built from the package's
    public functions in pipeline order: pages_df -> page_entities -> cover_df
    join -> pip_refine_expr filter (+ the query's final distinct)."""
    from pyspark.sql import functions as F

    from tree_sitter_codeviews_spark import cells, layers
    from tree_sitter_codeviews_spark.operators import extract, pip_join
    from tree_sitter_codeviews_spark.sources import pages as pages_src

    def pages():
        return pages_src.pages_df(spark, sf_dir)

    def ents():
        return extract.page_entities(pages(), pages_src.gazetteer_df(spark))

    def cand():
        pts = ents().withColumn(
            "cell", F.expr(cells.cell_sql("lon", "lat", layers.GRID_RES)))
        pts = pts.withColumn("cover_cell", cells.parent_col(
            F.col("cell"), layers.GRID_RES - pip_join.COVER_RES))
        return pts.join(F.broadcast(pip_join.cover_df(spark)), "cover_cell", "inner")

    def refined():
        return cand().filter(
            F.col("full") | pip_join.pip_refine_expr("lon", "lat", "polygon_id"))

    def triples():
        return refined().select(
            "url", F.col("cell").alias("cell_id"), "polygon_id").distinct()

    return {"pages": pages, "ents": ents, "cand": cand, "refined": refined,
            "triples": triples}


def _timed_group(spark, group: str, build) -> dict:
    """Force ``build()`` under job group ``group``; epoch-ms marks of the
    call, the end of plan building and the end of the run."""
    spark.sparkContext.setJobGroup(group, group)
    t_call = time.time()
    df = build()
    t_built = time.time()
    force(df)
    t_end = time.time()
    return {"call": t_call * 1e3, "built": t_built * 1e3, "end": t_end * 1e3}


def trace_phase(spark, cfg: dict, res: dict) -> dict:
    """Every layer on this workload's inputs, with the event log on.

    Per round: the flagship prefixes (pages, entities, joined triples) and
    the whole ``geo_pip_entities`` query, then one pass over the point
    queries. Each forced plan runs under
    its own job group ``<layer>|<round>``: round -1 warms up, round 0 is
    the one reported."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    sf = cfg["sf_dir"]
    reg = entry.queries()
    pre = flagship_prefixes(spark, sf)
    chain = [("sources.pages", pre["pages"]), ("operators.extract", pre["ents"]),
             ("operators.pip_join", pre["triples"]),
             ("geo_pip_entities", lambda: reg["geo_pip_entities"](spark, sf))]
    chain += [(q, lambda q=q: reg[q](spark, sf)) for q in POINT_QUERIES]
    marks: dict[str, dict] = {}
    for r in (-1, 0):  # round -1 warms the rebuilt session up
        for name, build in chain:
            if name == POINT_QUERIES[0]:
                t_pass = time.time()
            res["attempted"] += 1
            marks[f"{name}|{r}"] = _timed_group(spark, f"{name}|{r}", build)
        point_pass_s = time.time() - t_pass

    # row counters, outside every timed group
    spark.sparkContext.setJobGroup("counters", "counters")
    c = pre["cand"]().agg(F.count("*").alias("n"),
                          F.sum(F.col("full").cast("long")).alias("interior")).collect()[0]
    counts = {
        "candidates": c["n"],
        "interior": c["interior"] or 0,
        "boundary_hits": pre["refined"]().filter(~F.col("full")).count(),
        "pages": pre["pages"]().count(),
        "entities": pre["ents"]().count(),
        "finest_cells": reg["geo_tiles"](spark, sf).filter("res = 10").count(),
    }
    return {"point_pass_s": point_pass_s, "counts": counts, "marks": marks}


def fold_event_log(event_dir: str, marks: dict) -> dict:
    """Per job group: the marks plus the event log's counters."""
    from eventlog import EventLog

    log = EventLog(event_dir)
    groups = {g: dict(m, counters=log.counters(g), task_skew=log.task_skew(g),
                      jobs_in_call_ms=log.job_ms(g, m["call"], m["built"]),
                      jobs_ms=log.job_ms(g, m["call"], m["end"]))
              for g, m in marks.items()}
    return {"groups": groups,
            "phase_gc_s": sum(m["counters"].get("gc_s", 0.0) for m in groups.values())}


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    res = run_child(cfg)
    res["import_s"] = T_IMPORT - cfg["t_spawn"]
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
    # nothing is left to flush: skip the graceful JVM shutdown, the parent
    # stops every process this one started
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
