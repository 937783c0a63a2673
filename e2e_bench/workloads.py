"""The two workloads, their correctness checks and their metrics.

Both start from the same seed (the base games through the product
flattener, plus the ML landing tables) and read through
``service_http.serve(GameReader(...), port=0)`` over loopback:

- ``ingest_cycle``: new games and changed payloads go through
  ``pipeline.fetch_games``, the serving models are built with
  ``ModelDag.run_persisted(changed_keys=...)``, and every touched game is
  read back over HTTP until it is served fresh. Then the batch is written
  again through the logged S6/S7 writers, and the registry's write-side
  queries run.
- ``serve_mix``: the serving models are built in set-up; a closed loop of
  two clients sends the read mix for ``--seconds``; nothing is written.
  Then the registry's read-side queries run.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import timedelta
from urllib.parse import urlencode

import pandas as pd
from pyspark.sql import functions as F

from bgg_data_warehouse_spark import io, pipeline, schemas, service_http
from bgg_data_warehouse_spark.plans.dag import REGISTRY, ModelDag
from bgg_data_warehouse_spark.plans.models import PROFILES
from bgg_data_warehouse_spark.readers import GameReader
from bgg_data_warehouse_spark.sources import bgg_xml

from . import registry, synth, testdata, warehouse

# the models the read service reads, and the source tables they need
SERVED_MODELS = [
    "game_profile",
    "games_features",
    "player_count_recommendations",
    "game_neighbors",
    "game_similarity_search",
    "bgg_predictions",
    "bgg_game_coordinates",
]
DAG_INPUTS = sorted(
    {d for m in ModelDag().order(SERVED_MODELS) for d in REGISTRY[m][0] if d not in REGISTRY}
)
# the tables the ingest cycle writes again through the logged writers:
# one dimension (S6, insert-if-absent) and one bridge (S7, delete+insert).
# Every new game has a designer of its own, so each batch inserts into
# the dimension; a dimension whose batch may hold no new key skips the
# append and the compaction check, and its time splits into two modes.
LOGGED = {"designers": pipeline.DIM_TABLES["designers"], "game_designers": ["game_id"]}
CLIENTS = 2  # serve_mix closed-loop clients
READERS = 4  # ingest_cycle read-back threads (one per core)
SEED_WRITERS = 8
TAIL_PCT = 85  # read_tail_ms: 15% of a run's reads, 13 or more, lie beyond it
T_NEW = synth.BASE_TS + timedelta(days=30)
NEIGHBORS = PROFILES[0]  # the precomputed /similar profile


@dataclass
class Size:
    base: int  # games in the warm warehouse
    new: int  # games the API starts serving during the cycle
    refetch: int  # existing games refetched with changed links


SIZES = {"full": Size(base=400, new=30, refetch=10), "toy": Size(base=60, new=4, refetch=2)}


def json_ready(value):
    """``value`` with every datetime as an ISO string."""
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    if isinstance(value, dict):
        return {k: json_ready(v) for k, v in value.items()}
    if isinstance(value, list):
        return [json_ready(v) for v in value]
    return value


def _frame(spark, rows: list, schema):
    """``rows`` (tuples or dicts) as a DataFrame, converted through Arrow
    in one batch rather than pickled row by row (≈ 2 s less set-up)."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


class JsonReadyReader:
    """The GameReader as ``service_http`` needs it: documents with
    datetimes as ISO strings.

    ``service_http`` serialises bodies with a bare ``json.dumps``, outside
    its error handling, so any document holding a timestamp (``/games/{id}``,
    ``/predictions``, ``/embedding``, ``/provenance``) drops the connection
    without a response. This adapter works around that defect of the
    package; the conversion it adds is what the shell would do itself.
    """

    def __init__(self, reader: GameReader):
        self.reader = reader

    def __getattr__(self, name):
        fn = getattr(self.reader, name)
        return lambda *a, **kw: json_ready(fn(*a, **kw))


@dataclass
class Op:
    route: str
    path: str
    params: dict = field(default_factory=dict)
    game_id: int | None = None


@dataclass
class Result:
    op: Op
    status: int
    body: object
    latency_s: float
    done_at: float
    ok: bool = True


class Bench:
    """One run: Spark, the warehouse, the server and the expected values."""

    def __init__(self, spark, work_dir: str, seed: int, size: Size, corrupt: bool = False):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(work_dir, f"warehouse-{seed}-{os.getpid()}")
        self.logged = os.path.join(self.root, "logged")  # the logged writers' stores
        self.testdata = os.path.join(work_dir, f"testdata-{seed}-{os.getpid()}")
        self.cat = synth.Catalogue(seed, size.base + size.new)
        rng = random.Random(f"{seed}:split")
        ids = list(self.cat.ids)
        rng.shuffle(ids)
        self.base = sorted(ids[: size.base])
        self.new = sorted(ids[size.base :])
        self.refetch = sorted(rng.sample(self.base, size.refetch))
        self.items = {g: self.cat.item(g) for g in self.base}
        stats = {g: synth.rating_stats(item) for g, item in self.items.items()}
        self.users = {g: u for g, (u, _) in stats.items()}
        self.complexity = {g: c for g, (_, c) in stats.items()}
        # the landing tables hold embeddings for the base games only, so
        # they make up the similarity corpus
        self.embedded = set(self.base)
        self.corrupt = corrupt  # expect wrong answers: the checks' own self-test
        self.unknown = [max(self.cat.ids) + 1 + i for i in range(50)]
        self.reader: GameReader | None = None
        self.server = None
        self.sources: dict = {}  # the serving models' inputs
        self._parsed = None

    # -- set-up ----------------------------------------------------------

    def seed_frames(self) -> dict:
        """The seed as DataFrames: the raw layer as a finished fetch and
        process of the base games leave it, the core tables from one pass
        of the product flattener (``parse_responses`` -> ``normalize``),
        and the ML landing tables. The parse is cached; call
        ``release_seed`` when done."""
        spark, ts = self.spark, synth.BASE_TS
        raw = {
            "raw_responses": [(g, synth.payload(self.cat.item(g)), ts, f"seed-{g}") for g in self.base],
            "fetched_responses": [(f"seed-{g}", g, ts, "success") for g in self.base],
            "processed_responses": [(f"seed-{g}", ts, "success", 1, None) for g in self.base],
        }
        frames = {n: _frame(spark, rows, schemas.RAW_TABLES[n]) for n, rows in raw.items()}
        self._parsed = bgg_xml.parse_responses(frames["raw_responses"]).cache()
        frames.update(bgg_xml.normalize(self._parsed, ts))
        for name, rows in synth.landing_rows(self.seed, self.base).items():
            frames[name] = _frame(spark, rows, schemas.LANDING_TABLES[name])
        testdata.write(self.testdata, self.seed)
        return frames

    def release_seed(self) -> None:
        self._parsed.unpersist()

    def write(self, frames: dict, names) -> None:
        """Write seed tables eight at a time: each write is a job or two
        of small tasks, mostly driver-side work. The seed is the
        benchmark's input, so its set-up may overlap jobs that the product
        runs one by one."""
        self._parsed.count()  # parse once, before the writers share it
        with ThreadPoolExecutor(SEED_WRITERS) as pool:
            list(pool.map(lambda n: io.write_table(frames[n], self.root, n), names))

    def serve_models(self, sources: dict, changed_keys=None) -> None:
        """Materialise the serving models from ``sources`` and (re)open the
        read service over them."""
        spark, root = self.spark, self.root
        self.sources = {n: sources[n] for n in DAG_INPUTS}
        ModelDag().run_persisted(
            spark, self.sources, root, targets=SERVED_MODELS, changed_keys=changed_keys
        )
        self.reader = GameReader(warehouse.read_tables(spark, root, warehouse.SERVED_TABLES))
        if self.server is None:
            self.server = service_http.serve(JsonReadyReader(self.reader), port=0)

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(self.testdata, ignore_errors=True)

    # -- requests --------------------------------------------------------

    def call(self, op: Op) -> Result:
        host, port = self.server.server_address[:2]
        url = op.path + ("?" + urlencode(op.params) if op.params else "")
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            conn.request("GET", url)
            resp = conn.getresponse()
            status, body = resp.status, json.loads(resp.read())
        except (OSError, http.client.HTTPException, ValueError) as exc:
            status, body = 0, repr(exc)  # no answer: counted as failed
        finally:
            conn.close()
        t1 = time.perf_counter()
        return Result(op, status, body, t1 - t0, t1)

    def run_ops(self, streams, deadline: float | None = None) -> list[Result]:
        """Closed loop: each client sends its next op when the previous
        one answered, until its stream ends or ``deadline`` passes."""
        results: list[Result] = []
        lock = threading.Lock()

        def client(stream):
            for op in stream:
                if deadline is not None and time.perf_counter() >= deadline:
                    return
                res = self.call(op)
                try:
                    res.ok = self.check(res)
                except (KeyError, TypeError):  # a body without the expected fields
                    res.ok = False
                with lock:
                    results.append(res)

        threads = [threading.Thread(target=client, args=(s,)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results

    # -- expected values -------------------------------------------------

    def expect_name(self, g: int) -> str:
        if self.corrupt:
            return "corrupted"
        names = self.items[g]["name"]
        return next(n["@value"] for n in names if n["@type"] == "primary")

    def expect_links(self, g: int, ltype: str) -> list[str]:
        return sorted({ln["@value"] for ln in self.items[g]["link"] if ln["@type"] == ltype})

    def expect_players(self, g: int) -> list[str]:
        out = []
        for res in self.items[g]["poll"][0]["results"]:
            votes = sum(int(r["@numvotes"]) for r in res["result"])
            if votes > 5 and 1 <= int(res["@numplayers"]) <= 8:
                out.append(res["@numplayers"])
        return sorted(out)

    def live_corpus(self, g: int, min_ratings: int) -> set[int]:
        """The games a tuned /similar for ``g`` ranks: every embedded game
        with enough ratings but ``g``; none if ``g`` has no embedding."""
        if g not in self.embedded:
            return set()
        return {t for t in self.embedded if t != g and self.users[t] >= min_ratings}

    def neighbor_bounds(self, g: int) -> tuple[set[int], int, int]:
        """(allowed ids, fewest, most) of ``g``'s precomputed neighbors:
        rated embedded games within the profile's complexity band, at most
        ``top_k``; none unless ``g`` is in the corpus itself. The band edge
        gets a rounding margin, so a pair at exactly the band may go
        either way."""
        p = NEIGHBORS
        corpus = self.live_corpus(g, p.min_users_rated)
        if g not in self.embedded or self.users[g] < p.min_users_rated:
            return set(), 0, 0
        gap = {t: abs(self.complexity[t] - self.complexity[g]) for t in corpus}
        near = {t for t, d in gap.items() if d <= p.complexity_band + 1e-9}
        sure = sum(d <= p.complexity_band - 1e-9 for d in gap.values())
        return near, min(p.top_k, sure), min(p.top_k, len(near))

    def check(self, res: Result) -> bool:
        """Does this answer match what the generator put in? Status first,
        then the fields the generator controls."""
        op, body, g = res.op, res.body, res.op.game_id
        if res.status == 0:
            return False
        if op.route == "similar_bad":
            return res.status == 400
        if g not in self.items:
            if op.route in ("game", "features"):
                return res.status == 404
            return res.status == 200 and body == []
        if res.status != 200:
            return False
        if op.route == "game":
            return body["game_id"] == g and body["name"] == self.expect_name(g)
        if op.route == "features":
            return (
                body["name"] == self.expect_name(g)
                and body["categories"] == self.expect_links(g, "boardgamecategory")
                and body["mechanics"] == self.expect_links(g, "boardgamemechanic")
            )
        if op.route == "players":
            return sorted(r["player_count"] for r in body) == self.expect_players(g)
        if op.route == "similar_pre":
            near, fewest, most = self.neighbor_bounds(g)
            return (
                fewest <= len(body) <= most
                and {s["neighbor_id"] for s in body} <= near
                and [s["rank"] for s in body] == list(range(1, len(body) + 1))
            )
        if op.route == "similar_live":
            corpus = self.live_corpus(g, int(op.params["min_ratings"]))
            scores = [s["score"] for s in body]
            desc = op.params.get("metric", "cosine") != "euclidean"
            return (
                len(body) == min(int(op.params["n"]), len(corpus))
                and {s["game_id"] for s in body} <= corpus
                and scores == sorted(scores, reverse=desc)
            )
        if op.route == "provenance":
            return len(body) >= 1 and all(r["game_id"] == g for r in body)
        return True  # predictions / embedding: 200 with a document or null

    # -- op streams ------------------------------------------------------

    def refreshed_ops(self, g: int) -> list[Op]:
        """One request per route the API serves for game ``g``."""
        return [
            Op("game", f"/games/{g}", game_id=g),
            Op("features", f"/games/{g}/features", game_id=g),
            Op("players", f"/games/{g}/players", game_id=g),
            Op("similar_pre", f"/games/{g}/similar", game_id=g),
            Op("similar_live", f"/games/{g}/similar", {"n": 5, "min_ratings": 100}, g),
        ]

    def mix(self):
        """The serve_mix request stream, shared by the clients: 80-request
        rounds of /games/{id} 50% (2 of the 40 for unknown ids), /players
        10%, /features 5%, precomputed /similar 15%, tuned /similar 15%
        as three sessions of 3, 4 and 5 successive tweaks of n,
        min_ratings, metric and dims on one game (one tweak of the
        five-step session asks for an unsupported dims: 400), and the
        other blocks 5%. The route order and the tweaks are the same for
        every seed, so runs of any length compare like with like: a
        tweak's cost depends on the corpus it selects. Games are
        Zipf-popular in order of their ratings count, as on BGG, where
        the rated games draw the traffic."""
        rng = random.Random(f"{self.seed}:mix")
        tweaks = random.Random(0)
        order = sorted(self.base, key=lambda g: (-self.users[g], g))
        zipf = synth.Zipf(len(order))
        rounds = ["game"] * 38 + ["unknown"] * 2 + ["players"] * 8 + ["features"] * 4
        rounds += ["similar_pre"] * 12 + ["block"] * 4 + [3, 4, 5]
        random.Random(0).shuffle(rounds)
        knobs = {"n": [5, 10, 20], "min_ratings": [25, 100, 250],
                 "metric": ["cosine", "euclidean", "dot"], "dims": [8, 16, 32, 64]}
        while True:
            for route in rounds:
                g = order[zipf.draw(rng)]
                if route == "game":
                    yield Op("game", f"/games/{g}", game_id=g)
                elif route == "unknown":
                    g = rng.choice(self.unknown)
                    yield Op("game", f"/games/{g}", game_id=g)
                elif route in ("players", "features"):
                    yield Op(route, f"/games/{g}/{route}", game_id=g)
                elif route == "similar_pre":
                    yield Op("similar_pre", f"/games/{g}/similar", game_id=g)
                elif route == "block":
                    sub = rng.choice(["predictions", "embedding", "provenance"])
                    yield Op(sub, f"/games/{g}/{sub}", game_id=g)
                else:  # a tuning session of `route` tweaks
                    params = {"n": 10, "min_ratings": 100, "metric": "cosine", "dims": 64}
                    for step in range(route):
                        knob = tweaks.choice(list(knobs))
                        params[knob] = tweaks.choice(knobs[knob])
                        if route == 5 and step == 2:
                            yield Op("similar_bad", f"/games/{g}/similar", {**params, "dims": 7}, g)
                        else:
                            yield Op("similar_live", f"/games/{g}/similar", dict(params), g)

    # -- the logged writers ----------------------------------------------

    def write_logged(self, tables: dict) -> None:
        """Write ``tables`` through the log-structured twins of the S6 and
        S7 write strategies, into stores beside the snapshot tables."""
        for name, keys in LOGGED.items():
            if name in pipeline.DIM_TABLES:
                io.merge_insert_missing_logged(self.spark, tables[name], self.logged, name, keys)
            else:
                io.delete_insert_logged(self.spark, tables[name], self.logged, name, keys)


# -- workloads ----------------------------------------------------------------


def ingest_cycle(b: Bench, seconds: float) -> dict:
    """One freshness cycle on the seed: ``fetch_games`` fetches the new
    ids and refetches the changed games (one process batch takes them
    all), the serving models are built, and every touched game is read
    back over HTTP. Then the batch's designer rows go through the logged
    writers, and the registry's write-side queries run. One cycle is the
    unit of work, whatever ``seconds`` says. The seed holds no serving
    models, so the model run builds them in full (``changed_keys`` only
    scopes incremental models that already exist)."""
    spark = b.spark
    changed = {g: b.cat.item(g, version=1) for g in b.refetch}
    client = synth.canned_client({**{g: b.cat.item(g) for g in b.new}, **changed})
    touched = b.new + b.refetch
    t0 = time.perf_counter()
    fetched, processed = pipeline.fetch_games(spark, b.root, client, touched, now=T_NEW)
    t_ingested = time.perf_counter()
    b.serve_models(
        warehouse.read_tables(spark, b.root, DAG_INPUTS),
        spark.createDataFrame([(g,) for g in touched], "game_id long"),
    )
    b.items.update({g: b.cat.item(g) for g in b.new})
    b.items.update(changed)
    streams = [[] for _ in range(READERS)]
    for i, g in enumerate(touched):
        ops = [Op("game", f"/games/{g}", game_id=g), Op("similar_pre", f"/games/{g}/similar", game_id=g)]
        if g in changed:  # the new links show in the feature block, and only
            # base games have embeddings, so a tuned /similar ranks something
            ops.append(Op("features", f"/games/{g}/features", game_id=g))
            ops.append(Op("similar_live", f"/games/{g}/similar", {"n": 10, "min_ratings": 100}, g))
        streams[i % READERS].extend(ops)
    results = b.run_ops(streams)
    t_served = time.perf_counter()
    # a game is servable when the last of its reads answered
    lag: dict[int, float] = {}
    for r in results:
        lag[r.op.game_id] = max(lag.get(r.op.game_id, 0.0), r.done_at - t0)

    t_slice = time.perf_counter()
    bridge = io.read_table(spark, b.root, "game_designers").where(F.col("game_id").isin(touched))
    dims = io.read_table(spark, b.root, "designers").join(bridge, "designer_id", "left_semi")
    b.write_logged({"game_designers": bridge, "designers": dims})
    query_s, rows = registry.run(spark, registry.SLICES["ingest_cycle"], b.testdata)
    t_end = time.perf_counter()
    return {
        "results": results,
        "ops_per_s": len(touched) / (t_ingested - t0),
        "op_latencies_s": [lag[g] for g in touched],
        "slice_s": t_end - t_slice,
        "slice_rows": rows,
        "info": {"ingest_s": t_ingested - t0, "cycle_s": t_served - t0,
                 "logged_s": t_end - t_slice - query_s, "query_s": query_s},
        "counts_ok": (fetched, processed) == (len(touched), len(touched)),
    }


class _Shared:
    """One iterator, safe to pull from several client threads."""

    def __init__(self, it):
        self.it, self.lock = it, threading.Lock()

    def __iter__(self):
        return self

    def __next__(self):
        with self.lock:
            return next(self.it)


def serve_mix(b: Bench, seconds: float) -> dict:
    """Two closed-loop clients send the read mix for ``seconds``; then
    the registry's read-side queries run."""
    stream = _Shared(b.mix())
    t0 = time.perf_counter()
    results = b.run_ops([stream] * CLIENTS, deadline=t0 + seconds)
    busy = max(r.done_at for r in results) - t0
    query_s, rows = registry.run(b.spark, registry.SLICES["serve_mix"], b.testdata)
    return {
        "results": results,
        "ops_per_s": len(results) / busy,
        "op_latencies_s": [r.latency_s for r in results],
        "slice_s": query_s,
        "slice_rows": rows,
        "info": {},
    }


def _prepare_ingest(b: Bench) -> None:
    """The pipeline reads and merges into the raw and core tables, so they
    are all written; the serving models are left to the cycle. The logged
    writers' stores start from the seed's rows."""
    frames = b.seed_frames()
    b.write(frames, ["raw_responses", "fetched_responses", "processed_responses",
                     *schemas.CORE_TABLES, *synth.LANDING])
    b.write_logged({n: io.read_table(b.spark, b.root, n) for n in LOGGED})
    b.release_seed()


def _prepare_serve(b: Bench) -> None:
    """Only the serving models (and fetch provenance) are read, so the
    model run takes the seed straight from the flattener. Each input is
    cached as one partition, as a small table reads from disk: a model's
    writer makes one file per task in each partition directory, so the
    input partitioning sets the served tables' file layout."""
    frames = b.seed_frames()
    b.write(frames, ["fetched_responses"])
    b.serve_models({n: frames[n].coalesce(1).cache() for n in DAG_INPUTS})
    b.release_seed()
    b.run_ops([b.refreshed_ops(b.base[0])])  # first requests compile the reader plans


# -- untimed verification ------------------------------------------------------


def verify_ingest(b: Bench, out: dict, differential: bool) -> tuple[int, list[str]]:
    """``fetch_games`` took every id; refetched games have replaced
    bridges and exactly one more games snapshot; new games have one
    snapshot and their generator's links; the logged stores hold what
    the snapshot tables hold; the registry queries match their oracles.
    Returns (checks, problems)."""
    spark, root = b.spark, b.root
    problems = [] if out["counts_ok"] else ["fetch_games counts differ from the ids sent"]
    snaps = {
        r.game_id: r.n
        for r in io.read_table(spark, root, "games").groupBy("game_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    cats: dict[int, set] = {}
    for r in io.read_table(spark, root, "game_categories").collect():
        cats.setdefault(r.game_id, set()).add(r.category_id)
    touched = b.new + b.refetch
    for g in touched:
        want = 2 if g in b.refetch else 1
        if snaps.get(g) != want:
            problems.append(f"game {g}: {snaps.get(g)} games snapshots, expected {want}")
        links = {int(ln["@id"]) for ln in b.items[g]["link"] if ln["@type"] == "boardgamecategory"}
        if cats.get(g, set()) != links:
            problems.append(f"game {g}: categories {sorted(cats.get(g, ()))} != {sorted(links)}")
    if len(snaps) != len(b.base) + len(b.new):
        problems.append(f"{len(snaps)} games, expected {len(b.base) + len(b.new)}")
    for name, keys in LOGGED.items():
        snap = io.read_table(spark, root, name)
        logged = io.read_loader_table_logged(spark, b.logged, name, keys).select(snap.columns)
        if sorted(map(tuple, logged.collect())) != sorted(map(tuple, snap.collect())):
            problems.append(f"logged {name} differs from the snapshot table")
    problems += registry.check(b.testdata, out["slice_rows"], b.corrupt)
    return 2 * len(touched) + 2 + len(LOGGED) + len(out["slice_rows"]), problems


def _canon(body):
    """A response body without the build timestamp (the only field that
    differs between two builds of the same inputs)."""
    if isinstance(body, dict):
        return {k: _canon(v) for k, v in body.items() if k != "built_ts"}
    if isinstance(body, list):
        return [_canon(v) for v in body]
    return body


def verify_serve(b: Bench, out: dict, differential: bool) -> tuple[int, list[str]]:
    """Every route, for one rated game plus unknown ids and bad
    parameters, answered over HTTP and checked against the generator;
    the registry queries against their oracles. With ``differential``,
    each answer must also equal the one a reader over ``ModelDag().run()``
    on the same inputs gives, in memory (a persisted-versus-in-memory
    differential; it re-plans every model per request, so it costs about
    a second a request)."""
    from bgg_data_warehouse_spark.service import handle

    rng = random.Random(f"{b.seed}:verify")
    rated = sorted(t for t in b.base if b.users[t] >= NEIGHBORS.min_users_rated)
    g = rng.choice(rated or b.base)
    sample = b.refreshed_ops(g) + [
        Op("similar_bad", f"/games/{g}/similar", {"dims": 7}, g),
        Op("predictions", f"/games/{g}/predictions", game_id=g),
        Op("provenance", f"/games/{g}/provenance", game_id=g),
    ]
    sample.append(Op("game", f"/games/{b.unknown[0]}", game_id=b.unknown[0]))
    sample.append(Op("features", f"/games/{b.unknown[1]}/features", game_id=b.unknown[1]))

    mem_reader = None
    if differential:
        mem = ModelDag().run(b.sources, targets=SERVED_MODELS)
        mem["fetched_responses"] = b.reader.tables["fetched_responses"]
        mem_reader = GameReader(mem)
    problems = []
    for op in sample:
        served = b.call(op)
        if not b.check(served):
            problems.append(f"{op.path} {op.params}: unexpected answer {served.status}")
        if mem_reader is not None:
            params = {k: str(v) for k, v in op.params.items()}
            status, body = handle(mem_reader, "GET", op.path, params)
            if (served.status, _canon(served.body)) != (status, _canon(json_ready(body))):
                problems.append(f"{op.path} {op.params}: served {served.status}, in-memory {status}")
    problems += registry.check(b.testdata, out["slice_rows"], b.corrupt)
    checked = len(sample) * (2 if differential else 1) + len(out["slice_rows"])
    return checked, problems


# workload -> (set-up, timed run, untimed verification)
WORKLOADS = {
    "ingest_cycle": (_prepare_ingest, ingest_cycle, verify_ingest),
    "serve_mix": (_prepare_serve, serve_mix, verify_serve),
}


# -- metrics -----------------------------------------------------------------

def percentile(values: list[float], pct: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(round(pct / 100 * (len(ordered) - 1))))]


def end_to_end(out: dict, setup_s: float, store_bytes: int) -> tuple[dict, dict]:
    """The end-to-end metrics, each taken over the whole timed run."""
    reads = [r.latency_s for r in out["results"]]

    def p50_ms(route):
        return statistics.median(r.latency_s for r in out["results"] if r.op.route == route) * 1000

    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (out["ops_per_s"], "1/s"),
        "op_p50_ms": (statistics.median(out["op_latencies_s"]) * 1000, "ms"),
        "read_tail_ms": (percentile(reads, TAIL_PCT) * 1000, "ms"),
        "game_p50_ms": (p50_ms("game"), "ms"),
        "similar_pre_p50_ms": (p50_ms("similar_pre"), "ms"),
        "similar_live_p50_ms": (p50_ms("similar_live"), "ms"),
        "slice_s": (out["slice_s"], "s"),
        "store_mb": (store_bytes / 1e6, "MB"),
    }
    info = {
        **out["info"],
        "reads": len(reads),
        "reads_beyond_tail": len(reads) - 1 - int(round(TAIL_PCT / 100 * (len(reads) - 1))),
        "reads_per_route": {
            route: sum(r.op.route == route for r in out["results"])
            for route in ("game", "similar_pre", "similar_live")
        },
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, info
