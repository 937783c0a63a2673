"""Which public functions of each layer the traced run wraps, and the
per-layer metrics computed from the spans.

The metrics cover the timed phase, except ``setup.*``, which cover the
set-up phase. The untimed verification pass is not traced. The trace
artifact keeps every span under its phase root.
"""

from __future__ import annotations

import inspect
import os
import statistics
import time

import bgg_data_warehouse_spark.sources as sources
from bgg_data_warehouse_spark import io, log_store, pipeline, service_http, tpch, workload
from bgg_data_warehouse_spark.plans import dag
from bgg_data_warehouse_spark.readers import GameReader
from bgg_data_warehouse_spark.sources import api_client, bgg_xml, tables
from bgg_data_warehouse_spark.streaming import tracking

from . import registry
from .trace import Tracer

IO_FNS = (
    "read_table", "write_table", "append_table", "rewrite_table",
    "merge_insert_missing_table", "delete_insert_table",
)
IO_LOGGED_FNS = ("merge_insert_missing_logged", "delete_insert_logged")
IO_WRITES = {"write_table", "append_table", "rewrite_table", "merge_insert_missing_table",
             "delete_insert_table", *IO_LOGGED_FNS}
LOG_STORE_FNS = ("append_log_delta", "read_log_store", "compact_if_needed")
TRACKING_FNS = ("unfetched_ids", "expire_leases", "claim", "release",
                "unprocessed_responses", "record_process_results")
PIPELINE_FNS = ("fetch_games", "process_stage")
MODELS = ("games_active", "games_features", "player_count_recommendations", "bgg_predictions",
          "bgg_game_embeddings", "bgg_game_coordinates", "game_similarity_search",
          "game_neighbors", "game_profile")
ROUTES = ("get_game", "get_player_counts", "get_features", "similar_pre", "similar_live")
SLICE_STEPS = ("build", "plan", "exec")
SELF_LAYERS = ("sources", "tracking", "pipeline", "io", "log_store", "plans", "readers",
               "service_http", "slice")

# (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    [(f"spark.{k}", u) for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("input_bytes", "B"), ("shuffle_bytes", "B"),
    )]
    + [("setup.spark.jobs", "count"), ("setup.spark.executor_run_s", "s"),
       ("setup.io.s", "s"), ("setup.plans.dag.s", "s")]
    + [("sources.transport.calls", "count"), ("sources.transport.s", "s"),
       ("sources.land_responses.s", "s"), ("sources.payload_bytes", "B"),
       ("sources.load_table.calls", "count"), ("sources.load_table.s", "s"),
       ("sources.load_table.jobs", "count"),
       ("tracking.calls", "count"), ("tracking.s", "s"),
       ("pipeline.fetch_games.s", "s"), ("pipeline.fetch_games.jobs", "count"),
       ("pipeline.process_stage.s", "s"), ("pipeline.process_stage.jobs", "count"),
       ("pipeline.process_stage.batches", "count"), ("pipeline.process_stage.s_per_batch", "s")]
    + [(f"io.{fn}.{k}", u) for fn in IO_FNS + IO_LOGGED_FNS
       for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))]
    + [("io.bytes_written", "B"), ("io.files_written", "count"), ("io.write_amp", "ratio")]
    + [(f"log_store.{fn}.{k}", u) for fn in LOG_STORE_FNS
       for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))]
    + [("plans.dag.calls", "count"), ("plans.dag.s", "s"), ("plans.dag.jobs", "count")]
    + [(f"plans.model.{m}.s", "s") for m in MODELS]
    + [(f"readers.{r}.{k}", u) for r in ROUTES for k, u in (
        ("calls", "count"), ("s", "s"), ("jobs", "count"), ("input_bytes", "B"))]
    + [(f"readers.{r}.p50_ms", "ms") for r in ("get_game", "similar_pre", "similar_live")]
    + [("readers.similar_live.rows_per_result", "count"),
       ("service_http.requests", "count"), ("service_http.handle.s", "s"),
       ("service_http.overhead_ms", "ms")]
    + [("slice.queries", "count"), ("slice.jobs", "count")]
    + [(f"slice.{step}_s", "s") for step in SLICE_STEPS]
    + [(f"{layer}.self_s", "s") for layer in SELF_LAYERS]
    + [("trace.spans", "count"), ("trace.overhead_frac", "ratio")]
)


def _arg(fn, args, kwargs, name):
    try:
        return inspect.signature(fn).bind_partial(*args, **kwargs).arguments.get(name)
    except TypeError:
        return None


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def instrument(tr: Tracer, bench_cls) -> None:
    """Wrap each layer's public functions in spans."""
    tr.wrap(api_client.BGGApiClient, "get_thing", "sources.transport")

    def payload_bytes(rec, out, args, kwargs):
        rec["payload_bytes"] = sum(len(p) for p in out.values())

    tr.wrap(api_client.BGGApiClient, "fetch_all", "sources.fetch_all", payload_bytes)
    tr.wrap(pipeline, "land_responses", "sources.land_responses")
    for fn in ("parse_responses", "normalize"):
        tr.wrap(bgg_xml, fn, f"sources.bgg_xml.{fn}")
    # the registry's modules hold their own reference to load_table
    for owner in (tables, sources, workload, tpch):
        tr.wrap(owner, "load_table", "sources.load_table")
    for fn in TRACKING_FNS:
        tr.wrap(tracking, fn, f"tracking.{fn}")
    for fn in PIPELINE_FNS:
        tr.wrap(pipeline, fn, f"pipeline.{fn}")
    for fn in IO_FNS + IO_LOGGED_FNS:
        _wrap_io(tr, fn)
    for fn in LOG_STORE_FNS:
        tr.wrap(log_store, fn, f"log_store.{fn}")
    _wrap_dag(tr)
    for fn in ("get_game", "get_player_counts", "get_features"):
        tr.wrap(GameReader, fn, f"readers.{fn}")

    def similar_name(self, game_id, **kw):
        tuned = any(kw.get(k) is not None for k in ("n", "metric", "dims", "min_ratings"))
        return "readers.similar_live" if tuned else "readers.similar_pre"

    def rows(rec, out, args, kwargs):
        rec["rows"] = len(out)

    tr.wrap(GameReader, "get_similar", similar_name, rows)
    tr.wrap(service_http, "handle", "service_http.handle")
    tr.wrap(bench_cls, "call", "client.call")
    tr.wrap(registry, "run", "slice")
    for step, fn in zip(SLICE_STEPS, ("build", "plan", "execute")):
        tr.wrap(registry, fn, f"slice.{step}")


def _wrap_io(tr: Tracer, fn_name: str) -> None:
    fn = getattr(io, fn_name)
    write = fn_name in IO_WRITES

    def traced(*args, **kwargs):
        t0 = time.perf_counter()
        root, name = _arg(fn, args, kwargs, "root"), _arg(fn, args, kwargs, "name")
        before = _files(os.path.join(root, name)) if write and root else {}
        cost = time.perf_counter() - t0
        with tr.span(f"io.{fn_name}", table=name) as rec:
            out = fn(*args, **kwargs)
            if write and root:
                t1 = time.perf_counter()
                after = _files(os.path.join(root, name))
                new = {p: s for p, s in after.items() if p not in before}
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(new.values())
                cost += time.perf_counter() - t1
            rec["trace_cost_s"] = cost
            return out

    tr.patch(io, fn_name, traced)


def _wrap_dag(tr: Tracer) -> None:
    """One span per ``run_persisted`` call and, inside it, one span per
    model: from the model function's call to the next model's call (or
    the end of the run), so it covers the model's writes too. Spans
    opened inside that interval are re-parented to the model's span."""
    marks: list[tuple[str, float]] = []
    for name, (deps, fn, policy) in list(dag.REGISTRY.items()):
        def marked(t, _fn=fn, _name=name):
            marks.append((_name, time.perf_counter()))
            return _fn(t)

        tr.patch(dag.REGISTRY, name, (deps, marked, policy))

    run = dag.ModelDag.run_persisted

    def traced(self, *args, **kwargs):
        marks.clear()
        with tr.span("plans.dag") as rec:
            out = run(self, *args, **kwargs)
        ends = [t for _, t in marks[1:]] + [rec["end"]]
        for (name, start), end in zip(marks, ends):
            tr.insert_span(f"plans.model.{name}", rec["id"], start, end)
        return out

    tr.patch(dag.ModelDag, "run_persisted", traced)


def _phase_spans(spans: list[dict], phase: dict) -> list[dict]:
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        p = s["parent"]
        while p is not None and p != phase["id"]:
            p = by_id[p]["parent"]
        if p == phase["id"]:
            out.append(s)
    return out


def per_layer(tr: Tracer, phases: dict[str, dict], wall_s: float, span_cost_s: float) -> dict:
    """The PER_LAYER metrics from annotated spans: the timed phase's
    spans, except the ``setup.*`` metrics, which come from the set-up
    phase. A layer the timed phase bypasses reads 0."""
    run, setup = phases["run"], phases["setup"]
    spans = _phase_spans(tr.spans, run)
    by_id = {s["id"]: s for s in tr.spans}

    def named(n, ss=spans):
        return [s for s in ss if s["name"] == n]

    def outermost(prefix, ss=spans):
        return [
            s for s in ss
            if s["name"].startswith(prefix) and not by_id[s["parent"]]["name"].startswith(prefix)
        ]

    def total(ss, key):
        return sum(s["spark_incl"][key] for s in ss)

    def dur(ss):
        return sum(s["dur_s"] for s in ss)

    m: dict[str, float] = {}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "input_bytes", "shuffle_bytes"):
        m[f"spark.{k}"] = run["spark_incl"][k]
    setup_spans = _phase_spans(tr.spans, setup)
    m["setup.spark.jobs"] = setup["spark_incl"]["jobs"]
    m["setup.spark.executor_run_s"] = setup["spark_incl"]["executor_run_s"]
    m["setup.io.s"] = dur(outermost("io.", setup_spans))
    m["setup.plans.dag.s"] = dur(named("plans.dag", setup_spans))

    transport = named("sources.transport")
    m["sources.transport.calls"] = len(transport)
    m["sources.transport.s"] = dur(transport)
    m["sources.land_responses.s"] = dur(named("sources.land_responses"))
    payload = sum(s.get("payload_bytes", 0) for s in named("sources.fetch_all"))
    m["sources.payload_bytes"] = payload

    trk = [s for s in spans if s["name"].startswith("tracking.")]
    m["tracking.calls"], m["tracking.s"] = len(trk), dur(trk)

    for fn in ("fetch_games", "process_stage"):
        ss = named(f"pipeline.{fn}")
        m[f"pipeline.{fn}.s"], m[f"pipeline.{fn}.jobs"] = dur(ss), total(ss, "jobs")
    # one parse per process batch
    batches = sum(
        1 for s in named("sources.bgg_xml.parse_responses")
        if by_id[s["parent"]]["name"] == "pipeline.process_stage"
    )
    m["pipeline.process_stage.batches"] = batches
    m["pipeline.process_stage.s_per_batch"] = m["pipeline.process_stage.s"] / max(batches, 1)

    load = named("sources.load_table")
    m["sources.load_table.calls"] = len(load)
    m["sources.load_table.s"], m["sources.load_table.jobs"] = dur(load), total(load, "jobs")

    for fn in IO_FNS + IO_LOGGED_FNS:
        ss = named(f"io.{fn}")
        m[f"io.{fn}.calls"], m[f"io.{fn}.s"], m[f"io.{fn}.jobs"] = len(ss), dur(ss), total(ss, "jobs")
    writes = [s for s in outermost("io.") if "bytes_written" in s]
    m["io.bytes_written"] = sum(s["bytes_written"] for s in writes)
    m["io.files_written"] = sum(s["files_written"] for s in writes)
    m["io.write_amp"] = m["io.bytes_written"] / payload if payload else 0.0

    for fn in LOG_STORE_FNS:
        ss = named(f"log_store.{fn}")
        m[f"log_store.{fn}.calls"] = len(ss)
        m[f"log_store.{fn}.s"], m[f"log_store.{fn}.jobs"] = dur(ss), total(ss, "jobs")

    dags = named("plans.dag")
    m["plans.dag.calls"], m["plans.dag.s"], m["plans.dag.jobs"] = len(dags), dur(dags), total(dags, "jobs")
    for model in MODELS:
        m[f"plans.model.{model}.s"] = dur(named(f"plans.model.{model}"))

    for route in ROUTES:
        ss = named(f"readers.{route}")
        m[f"readers.{route}.calls"] = len(ss)
        m[f"readers.{route}.s"] = dur(ss)
        m[f"readers.{route}.jobs"] = total(ss, "jobs")
        m[f"readers.{route}.input_bytes"] = total(ss, "input_bytes")
    for route in ("get_game", "similar_pre", "similar_live"):
        ss = named(f"readers.{route}")
        m[f"readers.{route}.p50_ms"] = statistics.median(s["dur_s"] for s in ss) * 1000 if ss else 0.0
    live = named("readers.similar_live")
    m["readers.similar_live.rows_per_result"] = sum(s.get("rows", 0) for s in live) / max(len(live), 1)

    handles, calls = named("service_http.handle"), named("client.call")
    m["service_http.requests"] = len(handles)
    m["service_http.handle.s"] = dur(handles)
    m["service_http.overhead_ms"] = (dur(calls) - dur(handles)) / max(len(calls), 1) * 1000

    m["slice.queries"] = len(named("slice.build"))
    m["slice.jobs"] = total(named("slice"), "jobs")
    for step in SLICE_STEPS:
        m[f"slice.{step}_s"] = dur(named(f"slice.{step}"))

    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = sum(s["self_s"] for s in spans if s["name"].startswith(layer + "."))
    m["trace.spans"] = len(tr.spans)
    # tracing adds the span bookkeeping plus the io wrappers' file listings
    listing = sum(s.get("trace_cost_s", 0.0) for s in tr.spans)
    m["trace.overhead_frac"] = (len(tr.spans) * span_cost_s + listing) / wall_s
    return m
