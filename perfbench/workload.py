"""Seeded inputs for the benchmark: corpus row ids, query stream, ingest batch.

Everything here is a pure function of the seed (and, for the query stream,
of the corpus that seed generates), so two runs with one seed drive the
engine with identical inputs. The engine itself only ever sees the
generated pages and query strings.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Build parameters of bench.py's engine_build; with them the Zipf head of a
# few thousand pages is salted ("hot": df > SALT_THRESHOLD) and the tail is not.
N_SALTS = 8
SALT_THRESHOLD = 2000
N_BARRELS = 32

N_PAGES = 6000
# Query cycles sent per run. A fixed count, not a deadline: a faster engine
# must time the same queries as a slower one.
N_CYCLES = 2
# Ingest batch: bench.py's one-tiny-batch compaction case ("one ~10-page
# batch"). A recrawl batch re-fetches one base URL unchanged and one with
# new content: the fewest recrawls that exercise both outcomes, and one
# changed recrawl already forces the full-merge compaction. These are
# path-exercising minimums, not measured crawl rates.
BATCH_PAGES = 10
UNCHANGED_RECRAWLS = 1
CHANGED_RECRAWLS = 1

# sources.pages is counter-based: row i is the same page whatever else is
# generated, so a seed selects a disjoint id range. Row i is stamped
# 2024-01-01 + 37 s * i, so ids stay below ~1e8 to keep the timestamps in
# pandas' range; seeds wrap around after _SEED_SLOTS.
_ID_BASE = 1_000_000
_SEED_STRIDE = 10_000
_SEED_SLOTS = 10_000

REFERENCE_QUERIES = ["western", "best", "well", "good", "Best Western"]
BM25F_WEIGHTS = (2.0, 1.0)

# One cycle of query shapes (terms, mode, field weights): the shapes of
# bench.py's ENGINE_QUERIES (1-, 2- and 3-term OR, 3-term AND, 2-term
# BM25F) plus a 4-term OR, so queries have 1-4 terms. Each shape is sent
# once per cycle; that equal weighting is an assumption, not a query-log mix.
# Every run sends whole cycles, so the mix of shapes -- which sets most of a
# query's cost -- is the same on every seed and only the terms change.
SHAPES = [
    (1, "OR", None),
    (2, "OR", None),
    (3, "OR", None),
    (3, "AND", None),
    (2, "OR", BM25F_WEIGHTS),
    (4, "OR", None),
]
HOT, COLD = "hot", "cold"
# cold terms rarer than this rarely fill a top-10; skip them
MIN_COLD_DF = 20


@dataclass(frozen=True)
class Query:
    text: str
    mode: str = "OR"
    field_weights: tuple[float, float] | None = None

    @property
    def key(self) -> tuple:
        return (self.text, self.mode, self.field_weights)


def corpus_ids(seed: int, n_pages: int = N_PAGES) -> np.ndarray:
    """Row ids of the base corpus for ``seed``; batches take ids after it."""
    start = _ID_BASE + (seed % _SEED_SLOTS) * _SEED_STRIDE
    return np.arange(start, start + n_pages, dtype=np.int64)


def word_terms(vocab: list[str], normalize) -> dict[str, str]:
    """Generator vocabulary word -> the single index term it normalizes to.
    Words that normalize to nothing (stopwords, URLs) or to several tokens
    are left out, and each term keeps only its first word."""
    out: dict[str, str] = {}
    seen: set[str] = set()
    for w in vocab:
        toks = [t for t in normalize(w).split(" ") if t]
        if len(toks) == 1 and toks[0] not in seen:
            seen.add(toks[0])
            out[w] = toks[0]
    return out


def query_class(terms: list[str], term_df: dict[str, int]) -> str:
    """hot iff the rarest bound term is salted (df > SALT_THRESHOLD): then
    search() takes its WAND theta from the driver sketch; otherwise it runs
    the distributed rarest-term pass."""
    bound = [term_df[t] for t in terms if t in term_df]
    return HOT if bound and min(bound) > SALT_THRESHOLD else COLD


def query_stream(
    seed: int,
    klass: str,
    words: dict[str, str],
    term_df: dict[str, int],
    n_cycles: int,
) -> list[Query]:
    """Distinct queries of one class: n_cycles * len(SHAPES) of them, after
    the reference query set for the hot class.

    ``words`` maps a query word to its term (word_terms); ``term_df`` is the
    corpus document frequency per term. Hot queries use hot words only and
    start with the reference query set; cold queries mix one to all cold
    words with hot ones."""
    hot = sorted(w for w, t in words.items() if term_df.get(t, 0) > SALT_THRESHOLD)
    cold = sorted(
        w for w, t in words.items()
        if MIN_COLD_DF <= term_df.get(t, 0) <= SALT_THRESHOLD
    )
    rng = random.Random(f"{seed}:{klass}")
    out: list[Query] = []
    seen: set[tuple] = set()

    def add(q: Query) -> None:
        if q.key not in seen:
            seen.add(q.key)
            out.append(q)

    if klass == HOT:
        for text in REFERENCE_QUERIES:
            add(Query(text))
    for _ in range(n_cycles):
        for n_terms, mode, fw in SHAPES:
            for _attempt in range(1000):
                if klass == HOT:
                    picked = rng.sample(hot, min(n_terms, len(hot)))
                else:
                    n_cold = rng.randint(1, n_terms)
                    picked = rng.sample(cold, n_cold) + rng.sample(
                        hot, min(n_terms - n_cold, len(hot))
                    )
                    rng.shuffle(picked)
                q = Query(" ".join(picked), mode, fw)
                if q.key not in seen:
                    add(q)
                    break
            else:
                raise ValueError(f"cannot draw a new {klass} query of shape {n_terms}")
    return out


@dataclass
class Batch:
    pages: pd.DataFrame
    new_pages: int
    unchanged_recrawls: int
    changed_recrawls: int
    recrawled_urls: list[str]


def ingest_batch(
    seed: int,
    base: pd.DataFrame,
    generate,
    recrawl: bool,
    n_pages: int = BATCH_PAGES,
) -> Batch:
    """One micro-batch of pages. Append-only batches hold new pages only
    (ids after the base range). Recrawl batches re-fetch UNCHANGED_RECRAWLS
    base URLs byte-identical and CHANGED_RECRAWLS with new content (that of
    a fresh generated page); the rest are new pages.
    ``generate`` is sources.pages.generate_pages_pandas."""
    rng = random.Random(f"{seed}:batch:{int(recrawl)}")
    n_changed = CHANGED_RECRAWLS if recrawl else 0
    n_recrawl = n_changed + (UNCHANGED_RECRAWLS if recrawl else 0)
    n_new = n_pages - n_recrawl
    next_id = int(corpus_ids(seed, len(base))[-1]) + 1 if len(base) else 0
    new = generate(np.arange(next_id, next_id + n_new + n_changed, dtype=np.int64))
    fresh, donors = new.iloc[:n_new], new.iloc[n_new:].reset_index(drop=True)
    # recrawl English pages only: a page that stops being indexable is a
    # deletion, which this workload does not model
    en_rows = sorted(np.flatnonzero(base["lang"].to_numpy() == "en").tolist())
    picked = rng.sample(en_rows, n_recrawl)
    recrawled = base.iloc[picked].reset_index(drop=True).copy()
    for i in range(n_changed):
        recrawled.at[i, "html"] = donors.at[i, "html"]
        recrawled.at[i, "text"] = donors.at[i, "text"]
    pages = pd.concat([fresh, recrawled], ignore_index=True)
    return Batch(
        pages=pages,
        new_pages=n_new,
        unchanged_recrawls=n_recrawl - n_changed,
        changed_recrawls=n_changed,
        recrawled_urls=recrawled["url"].tolist(),
    )


def union_pages(base: pd.DataFrame, batch: Batch) -> pd.DataFrame:
    """The corpus state after the batch: latest version wins per URL."""
    kept = base[~base["url"].isin(set(batch.recrawled_urls))]
    return pd.concat([kept, batch.pages], ignore_index=True)
