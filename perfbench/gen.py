"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here, from ``--seed`` alone, with numpy
and pyarrow; the engine never sees the generator. The corpus follows the
engine's ``documents`` testdata table (``vacancy_analyser_spark.schemas``)
column for column, so the registered corpus keys run on it unchanged. The
lake workload also gets generator truth: the lifecycle dates each id must
end with, and the vectors the index must end with.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
#: The engine's testdata documents draw from this technical vocabulary.
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

EMBED_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _vocabulary(n_words: int) -> np.ndarray:
    """A fixed pronounceable vocabulary of ``n_words`` distinct words: the
    base words first, then three-syllable words spelling the base-85 digits
    of 0, 1, 2, ... in consonant-vowel syllables. Seed-independent, so only
    the draws over it change between seeds."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vows]
    n = len(syl)
    words = list(BASE_WORDS)
    words += [syl[i % n] + syl[i // n % n] + syl[i // n**2]
              for i in range(max(0, n_words - len(words)))]
    assert len(set(words)) == len(words)
    return np.array(words[:n_words])


def corpus(out_dir: str, seed: int, n_docs: int, n_words: int,
           near_dup_share: float = 0.2, exact_dup_share: float = 0.05) -> None:
    """A ``documents`` table of ``n_docs`` web-like documents: Zipf-drawn
    words over an ``n_words``-word vocabulary (sparse shingles, as real
    text has), with a fixed share of near-duplicates (a seeded 5-10% of
    words substituted, dropped or inserted) and of exact duplicates that
    differ only in case and spacing."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocabulary(n_words)
    p = 1.0 / np.arange(1, n_words + 1) ** 0.9
    p /= p.sum()
    texts: list[str] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 10 and kinds[i] < exact_dup_share:
            src = texts[rng.integers(0, i)].split(" ")
            texts.append("  ".join(w.upper() if j % 5 == 0 else w for j, w in enumerate(src)))
        elif i >= 10 and kinds[i] < exact_dup_share + near_dup_share:
            words = texts[rng.integers(0, i)].lower().split()
            n_edit = max(1, int(len(words) * rng.uniform(0.05, 0.10)))
            for _ in range(n_edit):
                op, at = rng.integers(0, 3), rng.integers(0, len(words))
                if op == 0:
                    words[at] = vocab[rng.choice(n_words, p=p)]
                elif op == 1 and len(words) > 25:
                    del words[at]
                else:
                    words.insert(at, vocab[rng.choice(n_words, p=p)])
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(25, 60))
            texts.append(" ".join(vocab[rng.choice(n_words, size=n, p=p)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng: np.random.Generator, n: int, centers: np.ndarray, noise: float) -> np.ndarray:
    """``n`` float32 unit vectors scattered around ``centers``."""
    v = centers[rng.integers(0, len(centers), n)] + noise * rng.standard_normal((n, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), path)


def lake(out_dir: str, seed: int, n_rows: int, n_weeks: int, n_vectors: int,
         add_per_week: int, delete_per_week: int) -> dict:
    """Inputs and generator truth for the weekly lake cycle.

    Snapshots: a vacancy-like table (id, employer, status, salary,
    published, priority) whose week-w snapshot drops ~2% of the live ids,
    adds ~2% new ones and changes ~5% of the rest. Truth is each id's
    (added, updated, removed) week, the dates merge_snapshot must yield.

    Vectors: a base set for the index build plus, per week, an add batch
    of fresh ids and a takedown list drawn from the ids live by then.

    Truth per week w: ``truth[w]`` is an (id → added, updated, removed
    week; -1 for none) array and ``vec_live[w]`` the ids the index holds
    after week w's add and delete."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_total = n_rows + n_rows * n_weeks // 25 + 16
    employer = rng.integers(0, 15_000, n_total)
    status = rng.integers(0, 3, n_total)
    salary = _round2(rng.uniform(1000.0, 500000.0, n_total))
    published = _us(dt.datetime(2021, 1, 1)) + rng.integers(0, 700, n_total) * _DAY_US
    priority = rng.integers(0, 5, n_total)
    live = np.zeros(n_total, bool)
    live[:n_rows] = True
    next_id = n_rows
    added = np.full(n_total, -1)
    updated = np.full(n_total, -1)
    removed = np.full(n_total, -1)
    added[:n_rows] = updated[:n_rows] = 0
    truth = []
    for w in range(n_weeks + 1):
        if w:
            ids = np.flatnonzero(live)
            gone = rng.choice(ids, size=int(len(ids) * 0.02), replace=False)
            live[gone] = False
            removed[gone] = w
            rest = np.flatnonzero(live)
            chg = rng.choice(rest, size=int(len(rest) * 0.05), replace=False)
            salary[chg] = _round2(salary[chg] + rng.uniform(10.0, 5000.0, len(chg)))
            updated[chg] = w
            n_new = int(len(ids) * 0.02)
            new = np.arange(next_id, next_id + n_new)
            next_id += n_new
            live[new] = True
            added[new] = updated[new] = w
        truth.append(np.stack([added[:next_id], updated[:next_id], removed[:next_id]], axis=1))
        ids = np.flatnonzero(live)
        _write(out_dir, f"snapshot_w{w}", {
            "id": pa.array(ids, pa.int64()),
            "employer": pa.array(employer[ids], pa.int64()),
            "status": np.array(["F", "O", "P"])[status[ids]],
            "salary": salary[ids],
            "published": _ts(published[ids]),
            "priority": np.array(PRIORITIES)[priority[ids]],
        })

    centers = rng.standard_normal((16, EMBED_DIM))
    n_vec_total = n_vectors + add_per_week * n_weeks
    vecs = unit_vectors(rng, n_vec_total, centers, 0.35)
    write_vectors(os.path.join(out_dir, "vectors_base.parquet"), np.arange(n_vectors), vecs[:n_vectors])
    alive = np.zeros(n_vec_total, bool)
    alive[:n_vectors] = True
    vec_live = [np.flatnonzero(alive)]
    for w in range(1, n_weeks + 1):
        ids = np.arange(n_vectors + (w - 1) * add_per_week, n_vectors + w * add_per_week)
        write_vectors(os.path.join(out_dir, f"vectors_add_w{w}.parquet"), ids, vecs[ids])
        alive[ids] = True
        dels = np.sort(rng.choice(np.flatnonzero(alive), size=delete_per_week, replace=False))
        alive[dels] = False
        pq.write_table(pa.table({"vec_id": pa.array(dels, pa.int64())}),
                       os.path.join(out_dir, f"vectors_del_w{w}.parquet"))
        vec_live.append(np.flatnonzero(alive))
    queries = unit_vectors(rng, 4, centers, 0.35)
    return {"truth": truth, "vectors": vecs, "vec_live": vec_live, "queries": queries}
