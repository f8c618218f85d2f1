"""Per-layer metrics from a traced child and its untraced baseline.

A layer's self time is its cumulative prefix's wall minus the previous
prefix's wall (flagship chain), or the wall of the query that is the layer
(point queries). Walls and counters come from the timed round (round 0).
"""

from __future__ import annotations

import statistics

from child import POINT_QUERIES


def per_layer(w, res: dict, one: dict, ncpu: int) -> dict:
    traced = res["trace"]
    groups = traced["groups"]

    def g(name: str) -> dict:
        return groups[f"{name}|0"]

    def wall(name: str) -> float:
        return (g(name)["end"] - g(name)["call"]) / 1e3

    op_queries = w.queries
    flagship = op_queries == ("geo_pip_entities",)
    op_wall = wall("geo_pip_entities") if flagship else traced["point_pass_s"]
    # flagship: the cumulative prefixes telescope to the last one's wall
    layers_sum = (wall("operators.pip_join") if flagship
                  else sum(wall(q) for q in POINT_QUERIES))

    def counter(key: str, names) -> float:
        return sum(g(q)["counters"].get(key, 0.0) for q in names)

    ext = g("operators.extract")["counters"]
    # workers are reused after the first UDF stage of a session, so their
    # start cost shows only in the untimed warm-up round
    ext_cold = groups["operators.extract|-1"]["counters"]
    cnt = traced["counts"]
    boundary = cnt["candidates"] - cnt["interior"]
    untraced_wall = statistics.median(res["n"]["walls"])
    skew_group = "geo_pip_entities" if flagship else "geo_pip_salted"
    m = {
        "session.start_s": (res["session_s"], "s"),
        "driver.plan_build_s": (sum(g(q)["built"] - g(q)["call"] - g(q)["jobs_in_call_ms"]
                                    for q in op_queries) / 1e3, "s"),
        "driver.job_gap_s": (op_wall - sum(g(q)["jobs_ms"] for q in op_queries) / 1e3, "s"),
        "driver.jobs": (counter("jobs", op_queries), "count"),
        "pages.wall_s": (wall("sources.pages"), "s"),
        "pages.shuffle_write_bytes": (counter("shuffle_write_bytes", ["sources.pages"]),
                                      "bytes"),
        "extract.wall_s": (wall("operators.extract") - wall("sources.pages"), "s"),
        "extract.python_run_s": (ext.get("python_run_s", 0.0), "s"),
        "extract.python_start_s": (ext_cold.get("python_start_s", 0.0), "s"),
        "extract.bytes_to_python": (ext.get("bytes_to_python", 0.0), "bytes"),
        "extract.cpu_ratio": (ext.get("udf_cpu_s", 0.0) / ext["udf_task_s"]
                              if ext.get("udf_task_s") else 0.0, "ratio"),
        "extract.entities_per_page": (cnt["entities"] / max(1, cnt["pages"]), "ratio"),
        "encode.cell_wall_s": (wall("geo_cell_encode"), "s"),
        "encode.s2_wall_s": (wall("geo_s2_encode"), "s"),
        "pip.wall_s": (wall("operators.pip_join") - wall("operators.extract"), "s"),
        "pip.best_wall_s": (wall("geo_pip_best"), "s"),
        "pip.candidates": (cnt["candidates"], "count"),
        "pip.interior_frac": (cnt["interior"] / max(1, cnt["candidates"]), "ratio"),
        "pip.refine_hit_frac": (cnt["boundary_hits"] / max(1, boundary), "ratio"),
        "skew.wall_s": (wall("geo_pip_salted"), "s"),
        "spark.task_skew": (g(skew_group)["task_skew"], "ratio"),
        "tiles.wall_s": (wall("geo_tiles"), "s"),
        "tiles.finest_cells": (cnt["finest_cells"], "count"),
        "scaling_eff_1to4": (statistics.median(one["n"]["walls"]) / (ncpu * untraced_wall),
                             "ratio"),
        "trace.wall_s": (op_wall, "s"),
        "trace.untraced_wall_s": (untraced_wall, "s"),
        "trace.overhead_s": (op_wall - untraced_wall, "s"),
        "trace.layers_sum_s": (layers_sum, "s"),
        "trace.remainder_s": (op_wall - layers_sum, "s"),
    }
    for key, unit in (("task_s", "s"), ("cpu_s", "s"), ("python_run_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"spark.{key}"] = (counter(key, op_queries), unit)
    # a single point-suite pass often sees no collection at all: GC is
    # summed over every traced plan of both rounds (warm-up and timed)
    m["spark.gc_s"] = (traced["phase_gc_s"], "s")
    return m
