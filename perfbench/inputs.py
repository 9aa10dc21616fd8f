"""Seeded inputs: the code-shaped corpus as parquet, and a query mix drawn
from a built dictionary by document-frequency band.

Everything here is a pure function of ``seed`` (and, for the query mix, of
the dictionary the engine built from that seed's corpus), so the same seed
gives byte-identical parquet and identical query lists.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from elastic_indexer4s_spark.corpus import MARKERS, make_corpus

CORPUS_COLUMNS = ("repo", "path", "commit", "lang", "content")
CORPUS_DDL = ("repo string, path string, commit string, lang string, "
              "content string")

#: df bands as fractions of N: ``rare`` <= RARE_DF_FRAC < ``mid`` <=
#: DENSE_DF_FRAC < dense; ``hot`` terms have df >= HOT_DF_FRAC
RARE_DF_FRAC = 0.001
DENSE_DF_FRAC = 0.10
HOT_DF_FRAC = 0.50

#: fixed class weights of the serving mix; prefix/fuzzy are serving-tier
#: only and topk_multi has no ``mode="and"``, so the Spark-path mix
#: (``LIVE_CLASSES``, also what ``search_batch`` runs) is the rest.
#: The weights are placeholders: no query log or published study of
#: code-search traffic backs them, they only keep every class's share
#: fixed.  A claim about one kind of query should rest on that class's
#: own p50 (``serve.class.<class>.p50_ms`` in the report), not on the
#: blended ``op_*`` percentiles.
CLASS_WEIGHTS = {"rare": 0.15, "mid": 0.20, "hot": 0.15, "and3": 0.10,
                 "camel": 0.10, "prefix": 0.15, "fuzzy": 0.15}
LIVE_CLASSES = ("rare", "mid", "hot", "camel")
TOP_K = 10


@dataclass(frozen=True)
class Query:
    qclass: str
    terms: tuple[str, ...]     # analyzer input (prefix/fuzzy: one pattern)
    mode: str = "or"

    def to_json(self) -> dict:
        return {"class": self.qclass, "terms": list(self.terms),
                "mode": self.mode}


def digest(queries: list[Query]) -> str:
    """Short content hash of a query list, printed so runs can be matched."""
    text = json.dumps([q.to_json() for q in queries], sort_keys=True)
    return f"n={len(queries)} sha256={hashlib.sha256(text.encode()).hexdigest()[:16]}"


def corpus_table(docs) -> pa.Table:
    return pa.table({c: [getattr(d, c) for d in docs]
                     for c in CORPUS_COLUMNS})


def write_table(tbl: pa.Table, path: Path) -> None:
    """Deterministic parquet bytes: fixed codec, one row group, no stats
    that depend on the writer's clock."""
    pq.write_table(tbl, str(path), compression="snappy",
                   row_group_size=max(1, tbl.num_rows))


def materialize_corpus(n_docs: int, seed: int, path: Path):
    """Generate the corpus and write it as one parquet file → docs."""
    docs = make_corpus(n_docs, seed)
    write_table(corpus_table(docs), path)
    return docs


def content_bytes(docs) -> int:
    return sum(len(d.content.encode("utf-8")) for d in docs)


def marker_docs(docs) -> dict[str, set[int]]:
    """marker term → indexes (into ``docs``) of the documents holding it."""
    return {m: {i for i, d in enumerate(docs)
                if f"\n{m} marker line" in d.content} for m in MARKERS}


def df_bands(dictionary: list[tuple[str, int]], n_docs: int) -> dict:
    """Split the vocabulary by document frequency (alphabetic terms only,
    so every band term is one analyzer token); each band is ordered by
    (df, term)."""
    rare_max = max(1, int(RARE_DF_FRAC * n_docs))
    dense_min = DENSE_DF_FRAC * n_docs
    bands: dict[str, list[str]] = {"rare": [], "mid": [], "dense": [],
                                   "hot": [], "long": []}
    for df, term in sorted((df, t) for t, df in dictionary):
        if not term.isalpha():
            continue
        if df <= rare_max:
            bands["rare"].append(term)
        elif df <= dense_min:
            bands["mid"].append(term)
        else:
            bands["dense"].append(term)
        if df >= HOT_DF_FRAC * n_docs:
            bands["hot"].append(term)
        if df > rare_max and len(term) >= 5:
            bands["long"].append(term)
    return bands


def spread(rng: random.Random, band: list[str], n: int) -> list[str]:
    """``n`` terms spread evenly over a df-ordered band (a systematic
    sample with a seeded offset), in seeded order: the mix's selectivity
    profile stays the same from seed to seed while its terms change."""
    u = rng.random()
    picks = [band[int((i + u) * len(band) / n)] for i in range(n)]
    rng.shuffle(picks)
    return picks


def _one_edit(rng: random.Random, term: str) -> str:
    i = rng.randrange(len(term))
    c = rng.choice([ch for ch in "abcdefghijklmnopqrstuvwxyz"
                    if ch != term[i]])
    return term[:i] + c + term[i + 1:]


def class_queries(rng: random.Random, qclass: str, n: int,
                  bands: dict) -> list[Query]:
    if qclass == "rare":        # alternately a marker and a rare term
        rare = spread(rng, bands["rare"], n) if bands["rare"] else []
        return [Query("rare", (rng.choice(MARKERS),)) if i % 2 == 0 or
                not rare else Query("rare", (rare[i],)) for i in range(n)]
    if qclass == "mid":
        t = spread(rng, bands["mid"], 2 * n)
        return [Query("mid", (t[2 * i], t[2 * i + 1])) for i in range(n)]
    if qclass == "hot":
        return [Query("hot", pair) for pair in zip(
            spread(rng, bands["hot"], n), spread(rng, bands["mid"], n))]
    if qclass == "and3":
        t = spread(rng, bands["dense"], 3 * n)
        return [Query("and3", tuple(t[3 * i:3 * i + 3]), "and")
                for i in range(n)]
    if qclass == "camel":
        t = spread(rng, bands["dense"], 2 * n)
        return [Query("camel", (t[2 * i] + t[2 * i + 1].capitalize(),))
                for i in range(n)]
    if qclass == "prefix":
        return [Query("prefix", (t[:3],))
                for t in spread(rng, bands["long"], n)]
    if qclass == "fuzzy":
        return [Query("fuzzy", (_one_edit(rng, t),))
                for t in spread(rng, bands["long"], n)]
    raise ValueError(f"unknown query class {qclass!r}")


def query_mix(dictionary: list[tuple[str, int]], n_docs: int, seed: int,
              n_queries: int, classes=tuple(CLASS_WEIGHTS)) -> list[Query]:
    """``n_queries`` queries, class counts proportional to the fixed
    weights (largest remainder), classes interleaved in a seeded order."""
    bands = df_bands(dictionary, n_docs)
    rng = random.Random(f"{seed}/queries")
    total = sum(CLASS_WEIGHTS[c] for c in classes)
    exact = {c: n_queries * CLASS_WEIGHTS[c] / total for c in classes}
    counts = {c: int(v) for c, v in exact.items()}
    for c in sorted(classes, key=lambda c: counts[c] - exact[c])[
            :n_queries - sum(counts.values())]:
        counts[c] += 1
    queues = {c: class_queries(rng, c, counts[c], bands) for c in classes}
    order = [c for c in classes for _ in range(counts[c])]
    rng.shuffle(order)
    return [queues[c].pop() for c in order]


def mix_description(n_docs: int, classes=tuple(CLASS_WEIGHTS)) -> dict:
    """The thresholds and weights, printed with every result."""
    return {"rare_df_max": max(1, int(RARE_DF_FRAC * n_docs)),
            "dense_df_min": DENSE_DF_FRAC * n_docs,
            "hot_df_min": HOT_DF_FRAC * n_docs,
            "weights": {c: CLASS_WEIGHTS[c] for c in classes},
            "weights_source": "placeholder, no traffic data",
            "k": TOP_K}
