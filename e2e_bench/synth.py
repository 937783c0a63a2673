"""Seeded synthetic BGG inputs: API payloads, the canned transport, and
the ML landing tables.

Every payload is the ``tests/bgg_fixtures.py`` CATAN item with its id,
names, numbers, polls and links redrawn from a ``random.Random(seed)``.
Link targets are Zipf-popular (a few categories, mechanics, designers and
publishers carry most games), and about 13.5% of games have
``users_rated >= 100`` (BGG: 17,258 of 127,645 games), so the similarity
corpus is a realistic slice of the catalogue.
"""

from __future__ import annotations

import bisect
import copy
import json
import random
from datetime import datetime, timedelta

from tests.bgg_fixtures import CATAN

from bgg_data_warehouse_spark.sources.api_client import BGGApiClient, RateLimiter

RATED_SHARE = 17_258 / 127_645
EMBED_DIMS = 64
BASE_TS = datetime(2026, 1, 1)
LANDING = ("ml_predictions_landing", "game_embeddings", "game_coordinates")

# link type -> (id offset, pool size as a share of the game count, minimum
# pool, links per game)
_LINK_POOLS = {
    "boardgamecategory": (1_000, 0.0, 80, (1, 4)),
    "boardgamemechanic": (2_000, 0.0, 150, (1, 5)),
    "boardgamefamily": (3_000, 0.05, 40, (0, 2)),
    "boardgamedesigner": (100_000, 0.25, 30, (1, 2)),
    "boardgameartist": (200_000, 0.2, 30, (0, 2)),
    "boardgamepublisher": (300_000, 0.15, 30, (1, 3)),
}
_OWN_DESIGNER = 150_000  # id offset of each game's own designer
_WORDS = (
    "Age Castle River Star Empire Harbor Forest Dragon Market Island Crown "
    "Rail Garden Voyage Temple Shadow Frontier Colony Kingdom Orchard"
).split()


class Zipf:
    """Draw ranks 0..n-1 with P(rank r) proportional to 1 / (r+1)**s."""

    def __init__(self, n: int, s: float = 1.1):
        acc, self._cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self._cdf.append(acc)
        self._total = acc

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cdf, rng.random() * self._total)


class Catalogue:
    """The seeded game universe: ids, per-game parameters, link pools."""

    def __init__(self, seed: int, n_games: int):
        self.seed = seed
        rng = random.Random(seed)
        # sparse, non-contiguous ids across several profile buckets
        self.ids = sorted(rng.sample(range(1, 40 * n_games), n_games))
        self.pools = {}
        for ltype, (offset, share, floor, _) in _LINK_POOLS.items():
            size = max(floor, int(share * n_games))
            self.pools[ltype] = ([offset + i for i in range(size)], Zipf(size))

    def links(self, rng: random.Random, gid: int) -> list[dict]:
        out = []
        for ltype, (_, _, _, (lo, hi)) in _LINK_POOLS.items():
            ids, zipf = self.pools[ltype]
            picked = sorted({ids[zipf.draw(rng)] for _ in range(rng.randint(lo, hi))})
            if ltype == "boardgamedesigner":
                # most BGG designers have one game: besides the popular
                # ones, each game has a designer of its own, so every new
                # game brings a new dimension row
                picked.append(_OWN_DESIGNER + gid)
            out.extend(
                {"@type": ltype, "@id": str(i), "@value": f"{ltype[9:].title()} {i}"}
                for i in picked
            )
        return out

    def item(self, gid: int, version: int = 0) -> dict:
        """The API item for ``gid``; ``version > 0`` redraws its links
        (a refetch whose payload changed) and keeps everything else."""
        rng = random.Random(f"{self.seed}:{gid}")
        item = copy.deepcopy(CATAN["items"]["item"])
        name = f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {gid}"
        item["@id"] = str(gid)
        item["name"] = [
            {"@type": "primary", "@value": name},
            {"@type": "alternate", "@value": f"{name} Edition", "@sortindex": "1"},
        ]
        item["yearpublished"] = {"@value": str(rng.randint(1960, 2025))}
        lo = rng.randint(1, 3)
        hi = lo + rng.randint(0, 4)
        item["minplayers"], item["maxplayers"] = {"@value": str(lo)}, {"@value": str(hi)}
        play = rng.choice([20, 30, 45, 60, 90, 120, 180])
        item["playingtime"] = {"@value": str(play)}
        item["minage"] = {"@value": str(rng.choice([6, 8, 10, 12, 14]))}
        item["description"] = f"{name}: " + " ".join(rng.choices(_WORDS, k=12))
        polls = item["poll"]
        polls[0]["results"] = [
            {
                "@numplayers": str(p),
                "result": [
                    {"@value": v, "@numvotes": str(rng.randint(0, 40))}
                    for v in ("Best", "Recommended", "Not Recommended")
                ],
            }
            for p in range(lo, hi + 1)
        ]
        polls[2]["results"]["result"] = [
            {"@value": item["minage"]["@value"], "@numvotes": str(rng.randint(1, 30))}
        ]
        rated = rng.random() < RATED_SHARE
        users = int(100 * rng.paretovariate(1.2)) if rated else rng.randint(0, 99)
        r = item["statistics"]["ratings"]
        r["usersrated"] = {"@value": str(users)}
        r["average"] = {"@value": f"{rng.uniform(4.5, 8.8):.3f}"}
        r["bayesaverage"] = {"@value": f"{rng.uniform(5.5, 8.2):.3f}" if rated else "0"}
        r["owned"] = {"@value": str(users * 2)}
        r["averageweight"] = {"@value": f"{rng.uniform(1.0, 4.5):.2f}"}
        r["ranks"]["rank"][0]["@value"] = str(rng.randint(1, 30_000)) if rated else "Not Ranked"
        link_rng = random.Random(f"{self.seed}:{gid}:links:{version}")
        item["link"] = self.links(link_rng, gid)
        return item


def rating_stats(item: dict) -> tuple[int, float]:
    """(users_rated, complexity) as the item states them."""
    r = item["statistics"]["ratings"]
    return int(r["usersrated"]["@value"]), float(r["averageweight"]["@value"])


def payload(item: dict) -> str:
    return json.dumps({"items": {"item": item}})


def canned_client(items: dict[int, dict]) -> BGGApiClient:
    """An API client whose transport answers from ``items`` in process:
    no network, no rate-limit sleeps, ids absent from ``items`` omitted
    (the API's behaviour for an unknown id)."""

    def transport(url: str) -> tuple[int, str]:
        ids = url.split("id=")[1].split("&")[0].split(",")
        found = [items[int(g)] for g in ids if int(g) in items]
        return 200, json.dumps({"items": {"item": found}})

    return BGGApiClient(
        transport=transport,
        rate_limiter=RateLimiter(clock=lambda: 0.0, sleep=lambda s: None),
        sleep=lambda s: None,
    )


def landing_rows(seed: int, game_ids: list[int]) -> dict[str, list[dict]]:
    """Rows for the ML landing tables the serving models read, over
    ``game_ids``: two prediction jobs and two embedding versions per game,
    so the latest-per-key models have work to do."""
    rng = random.Random(f"{seed}:landing")
    preds, embs, coords = [], [], []
    for gid in game_ids:
        for job in (1, 2):
            preds.append(
                {
                    "job_id": f"job-{job}",
                    "game_id": gid,
                    "name": f"game {gid}",
                    "year_published": 2000,
                    "predicted_hurdle_prob": round(rng.random(), 4),
                    "predicted_complexity": round(rng.uniform(1, 5), 3),
                    "predicted_rating": round(rng.uniform(5, 9), 3),
                    "predicted_users_rated": float(rng.randint(10, 5000)),
                    "predicted_geek_rating": round(rng.uniform(5.5, 8), 3),
                    **{
                        f"{fam}_{part}": f"{fam}-{part}-v{job}"
                        for fam in ("geek_rating", "hurdle", "complexity", "rating", "users_rated")
                        for part in ("model_name", "model_version", "experiment")
                    },
                    "score_ts": BASE_TS + timedelta(days=job),
                    "source_environment": "prod",
                }
            )
        for version in (1, 2):
            vec = [round(rng.gauss(0, 1), 5) for _ in range(EMBED_DIMS)]
            embs.append(
                {
                    "game_id": gid,
                    "name": f"game {gid}",
                    "year_published": 2000,
                    "embedding": vec,
                    "embedding_8": vec[:8],
                    "embedding_16": vec[:16],
                    "embedding_32": vec[:32],
                    "embedding_model": "synthetic",
                    "embedding_version": version,
                    "embedding_dim": EMBED_DIMS,
                    "algorithm": "gauss",
                    "created_ts": BASE_TS + timedelta(days=version),
                    "job_id": f"emb-{version}",
                }
            )
            coords.append(
                {
                    "game_id": gid,
                    "umap_1": round(rng.uniform(-5, 5), 4),
                    "umap_2": round(rng.uniform(-5, 5), 4),
                    "pca_1": round(rng.uniform(-2, 2), 4),
                    "pca_2": round(rng.uniform(-2, 2), 4),
                    "embedding_model": "synthetic",
                    "embedding_version": version,
                    "created_ts": BASE_TS + timedelta(days=version),
                }
            )
    return dict(zip(LANDING, (preds, embs, coords)))
