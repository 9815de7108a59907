"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (numpy ``PCG64``), runs
before the timed region, and writes plain parquet with pyarrow, so the
program under test receives only files. The properties each workload's
cost depends on are module constants with the reason for their value;
``describe_*`` returns them together with the values measured on the
generated data, and the benchmark prints that with every result.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# window_batch: one wide table that every plan of the mix scans
# ---------------------------------------------------------------------------

# On this engine each plan's post-shuffle stage runs as a single task
# (AQE coalesces the small shuffle), at ~10 us per row per plan on one
# core; 70,000 rows make a pass of the six-plan mix take ~5 s, so three
# warm-up and three timed passes fit a run of the benchmark's time budget.
BATCH_ROWS = 70_000
# Partition keys: key 0 holds a tenth of the rows, the rest follow a
# Zipf(s=1.1) tail whose head (key 1) holds another ~14%. The hot keys make
# one window task far longer than the rest as soon as the window stage runs
# in parallel; the tail gives thousands of small partitions.
BATCH_KEYS = 5_000
BATCH_HOT_SHARE = 0.10
BATCH_ZIPF_S = 1.1
# Second partition-key set for the multi-spec plan: uniform, low
# cardinality, so the plan needs a second exchange with no skew.
BATCH_KEYS2 = 64
# Order key: drawn per partition from a range sized so that ~10% of rows
# share their order value with another row of the same partition. Ties
# exercise RANGE frames and rank peers; the row id breaks them where a
# plan needs a total order.
BATCH_TIE_SHARE = 0.10
# Nullable column for lead/lag/first/last with ignoreNulls.
BATCH_NULL_SHARE = 0.30
BATCH_VALUE_MAX = 1_000
# Frame sizes: a 16-row sliding ROW frame and a RANGE frame of 200 order
# units (~40 rows at the tie share above), next to the running frames.
# Spark re-aggregates a sliding frame per row, so cost grows with them.
BATCH_ROW_FRAME = 16
BATCH_RANGE_FRAME = 200


def _zipf_keys(
    rng: np.random.Generator, n: int, keys: int, hot_share: float, s: float
) -> np.ndarray:
    """``n`` keys in ``[0, keys)``: key 0 holds ``hot_share`` of the rows,
    the rest follow Zipf(``s``) over keys 1..keys-1."""
    hot = rng.random(n) < hot_share
    ranks = np.arange(1, keys, dtype=np.float64)
    p = ranks ** -s
    tail = rng.choice(np.arange(1, keys), size=n, p=p / p.sum())
    return np.where(hot, 0, tail).astype(np.int32)


def _tied_order_key(
    rng: np.random.Generator, keys: np.ndarray, tie_share: float
) -> np.ndarray:
    """Per-row order values drawn uniformly from a per-partition range of
    ``size / x`` values, with ``x`` solving ``1 - (1 - e^-x) / x = tie_share``
    (the expected share of draws that repeat an earlier draw)."""
    lo, hi = 1e-6, 10.0
    for _ in range(60):
        x = (lo + hi) / 2
        if 1 - (1 - np.exp(-x)) / x < tie_share:
            lo = x
        else:
            hi = x
    sizes = np.bincount(keys)
    span = np.maximum(1, np.ceil(sizes / x)).astype(np.int64)
    return (rng.random(len(keys)) * span[keys]).astype(np.int64)


def window_table(seed: int, rows: int = BATCH_ROWS) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64(seed))
    k1 = _zipf_keys(rng, rows, BATCH_KEYS, BATCH_HOT_SHARE, BATCH_ZIPF_S)
    ts = _tied_order_key(rng, k1, BATCH_TIE_SHARE)
    k2 = rng.integers(0, BATCH_KEYS2, rows, dtype=np.int32)
    v = rng.integers(0, BATCH_VALUE_MAX, rows, dtype=np.int64)
    x = rng.integers(0, BATCH_VALUE_MAX, rows, dtype=np.int64)
    x_null = rng.random(rows) < BATCH_NULL_SHARE
    return pa.table({
        "rid": pa.array(np.arange(rows, dtype=np.int64)),
        "k1": pa.array(k1),
        "k2": pa.array(k2),
        "ts": pa.array(ts),
        "v": pa.array(v),
        "x": pa.array(x, mask=x_null),
    })


def tie_share(keys: np.ndarray, order: np.ndarray) -> float:
    """Share of rows whose (key, order) value repeats an earlier row's."""
    pairs = keys.astype(np.int64) * (int(order.max()) + 1) + order
    return 1.0 - len(np.unique(pairs)) / len(pairs)


def describe_window_table(table: pa.Table) -> dict:
    k1 = table.column("k1").to_numpy()
    counts = np.bincount(k1)
    return {
        "rows": table.num_rows,
        "k1_distinct": int((counts > 0).sum()),
        "k1_hot_share": round(float(counts[0] / table.num_rows), 4),
        "k1_top_tail_share": round(float(counts[1:].max() / table.num_rows), 4),
        "k1_zipf_s": BATCH_ZIPF_S,
        "k2_distinct": int(len(np.unique(table.column("k2").to_numpy()))),
        "ts_tie_share": round(tie_share(k1, table.column("ts").to_numpy()), 4),
        "x_null_share": round(table.column("x").null_count / table.num_rows, 4),
        "row_frame": BATCH_ROW_FRAME,
        "range_frame": BATCH_RANGE_FRAME,
    }


# ---------------------------------------------------------------------------
# window_interactive: a smaller table of the same shape
# ---------------------------------------------------------------------------

# A few hundred thousand rows: each request touches one partition key's
# rows, so execution stays short and front-door + planning cost shows.
# Keys are uniform (~100 rows each), so request cost does not swing with
# the drawn key; skew is window_batch's subject.
INTERACTIVE_ROWS = 200_000
INTERACTIVE_KEYS = 2_000
# Plan-shape popularity: Zipf(s=1.0) over the shape pool, so some shapes
# repeat often (what a plan cache would hit). The stream is stratified:
# every round of SHAPE_ROUND requests holds the same multiset of shapes,
# the Zipf weights rounded to whole requests, in a seeded order. A 10-s run
# completes about one round, so every run sees the same shape mix and the
# seed moves only the order and the keys.
SHAPE_ZIPF_S = 1.0
SHAPE_ROUND = 20


def interactive_table(seed: int, rows: int = INTERACTIVE_ROWS) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64(seed))
    k1 = rng.integers(0, INTERACTIVE_KEYS, rows, dtype=np.int32)
    ts = _tied_order_key(rng, k1, BATCH_TIE_SHARE)
    v = rng.integers(0, BATCH_VALUE_MAX, rows, dtype=np.int64)
    x = rng.integers(0, BATCH_VALUE_MAX, rows, dtype=np.int64)
    x_null = rng.random(rows) < BATCH_NULL_SHARE
    return pa.table({
        "rid": pa.array(np.arange(rows, dtype=np.int64)),
        "k1": pa.array(k1),
        "k2": pa.array(rng.integers(0, BATCH_KEYS2, rows, dtype=np.int32)),
        "ts": pa.array(ts),
        "v": pa.array(v),
        "x": pa.array(x, mask=x_null),
    })


def shape_round(shapes: int) -> list[int]:
    """The shape indices of one round: Zipf weights over ``shapes`` shapes
    (index 0 most popular) allocated to SHAPE_ROUND requests by largest
    remainder."""
    w = np.arange(1, shapes + 1, dtype=np.float64) ** -SHAPE_ZIPF_S
    quota = SHAPE_ROUND * w / w.sum()
    counts = np.floor(quota).astype(int)
    for i in np.argsort(-(quota - counts), kind="stable")[: SHAPE_ROUND - counts.sum()]:
        counts[i] += 1
    return [i for i, c in enumerate(counts) for _ in range(c)]


def request_stream(
    seed: int, n: int, shapes: int, keys: np.ndarray
) -> list[tuple[int, int]]:
    """``n`` (shape index, partition key) requests: rounds of
    :func:`shape_round` in seeded order, keys uniform over ``keys``."""
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    one_round = np.array(shape_round(shapes))
    rounds = -(-n // SHAPE_ROUND)
    shape_ix = np.concatenate([rng.permutation(one_round) for _ in range(rounds)])[:n]
    key_ix = rng.choice(keys, size=n)
    return [(int(s), int(k)) for s, k in zip(shape_ix, key_ix)]


def repeat_share(requests: list[tuple[int, int]]) -> float:
    """Share of requests whose plan shape was already seen in the run."""
    seen: set[int] = set()
    repeats = 0
    for shape, _ in requests:
        repeats += shape in seen
        seen.add(shape)
    return repeats / len(requests) if requests else 0.0


def write_parquet(table: pa.Table, path: str, row_group_size: int = 250_000) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


# ---------------------------------------------------------------------------
# corpus_ingest: a signature store plus micro-batches with planted truth
# ---------------------------------------------------------------------------

# Vocabulary: 5,000 pronounceable words with Zipf(s=1.0) frequencies, the
# eight Gopher stopwords as the most frequent. A fixture of 31 words and no
# stopwords fails the quality rules on every document and shares so many
# shingles that LSH candidates fan out quadratically; natural-language
# statistics avoid both.
VOCAB_SIZE = 5_000
VOCAB_ZIPF_S = 1.0
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Documents of 60-160 words in lines of 8-16 words: above Gopher's 50-word
# minimum, 100-word mean.
DOC_WORDS = (60, 160)
LINE_WORDS = (8, 16)
# Store built in set-up, then micro-batches of CORPUS_BATCH_DOCS staged as
# one parquet file each. A micro-batch takes 15-20 s on 4 cores, so a run
# reaches one or two of them; three are staged.
CORPUS_STORE_DOCS = 1_200
CORPUS_BATCH_DOCS = 300
CORPUS_BATCHES = 3
# Planted shares per micro-batch. Near-duplicates substitute
# NEAR_DUP_EDIT of the words of their source (3-gram Jaccard ~0.8, well
# above the 0.5 threshold at 64 hashes / 16 bands); quality failures are
# half too short (20-40 words), half digit soup (40% numeric words).
STORE_DUP_SHARE = 0.10   # near-duplicates of a store document
INTRA_DUP_SHARE = 0.10   # near-duplicates of an earlier document in the batch
CROSS_DUP_SHARE = 0.05   # near-duplicates of a survivor of the previous batch
QUALITY_FAIL_SHARE = 0.15
NEAR_DUP_EDIT = 0.04

_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "br", "ch", "cl", "dr", "gr", "pl", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou")


def vocabulary(seed: int) -> list[str]:
    rng = np.random.Generator(np.random.PCG64(seed + 7))
    words, seen = list(GOPHER_STOPWORDS), set(GOPHER_STOPWORDS)
    while len(words) < VOCAB_SIZE:
        syll = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(syll)
        )
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


class _Writer:
    def __init__(self, seed: int):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.vocab = vocabulary(seed)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -VOCAB_ZIPF_S)
        self.cdf = cdf / cdf[-1]

    def words(self, n: int) -> list[str]:
        ix = np.searchsorted(self.cdf, self.rng.random(n))
        out = [self.vocab[min(i, VOCAB_SIZE - 1)] for i in ix]
        # two distinct stopwords at random places, so the stopword rule
        # passes by construction rather than by chance
        for w in self.rng.choice(GOPHER_STOPWORDS, size=2, replace=False):
            out[int(self.rng.integers(n))] = str(w)
        return out

    def layout(self, words: list[str]) -> str:
        lines, i = [], 0
        while i < len(words):
            k = int(self.rng.integers(LINE_WORDS[0], LINE_WORDS[1] + 1))
            lines.append(" ".join(words[i:i + k]))
            i += k
        return "\n".join(lines)

    def good(self) -> list[str]:
        return self.words(int(self.rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)))

    def near_dup(self, words: list[str]) -> list[str]:
        out = list(words)
        n_edit = max(1, int(round(NEAR_DUP_EDIT * len(out))))
        for pos in self.rng.choice(len(out), size=n_edit, replace=False):
            out[int(pos)] = self.vocab[int(self.rng.integers(8, VOCAB_SIZE))]
        return out

    def bad(self) -> list[str]:
        if self.rng.random() < 0.5:
            return self.words(int(self.rng.integers(20, 41)))
        out = self.good()
        for pos in self.rng.choice(len(out), size=int(0.4 * len(out)), replace=False):
            out[int(pos)] = str(int(self.rng.integers(10, 100_000)))
        return out


def corpus(seed: int, batches: int = CORPUS_BATCHES) -> dict:
    """The store corpus and ``batches`` micro-batches, each a list of
    ``(doc_id, text)``, plus the planted truth: every batch document's
    class (``distinct``, ``store_dup``, ``intra_dup``, ``cross_dup`` or
    ``quality_fail``). Only ``distinct`` documents survive ingestion."""
    w = _Writer(seed)
    store_words = [w.good() for _ in range(CORPUS_STORE_DOCS)]
    store = [(i, w.layout(ws)) for i, ws in enumerate(store_words)]
    out_batches, truth = [], {}
    prev_distinct: list[list[str]] = []
    next_id = CORPUS_STORE_DOCS
    d = CORPUS_BATCH_DOCS
    for b in range(batches):
        n_store = int(STORE_DUP_SHARE * d)
        n_intra = int(INTRA_DUP_SHARE * d)
        n_cross = int(CROSS_DUP_SHARE * d) if prev_distinct else 0
        n_bad = int(QUALITY_FAIL_SHARE * d)
        n_distinct = d - n_store - n_intra - n_cross - n_bad
        docs: list[tuple[str, list[str]]] = []
        distinct = [w.good() for _ in range(n_distinct)]
        docs += [("distinct", ws) for ws in distinct]
        docs += [("store_dup", w.near_dup(store_words[int(w.rng.integers(len(store_words)))]))
                 for _ in range(n_store)]
        docs += [("cross_dup", w.near_dup(prev_distinct[int(w.rng.integers(len(prev_distinct)))]))
                 for _ in range(n_cross)]
        docs += [("quality_fail", w.bad()) for _ in range(n_bad)]
        order = w.rng.permutation(len(docs))
        docs = [docs[i] for i in order]
        # intra-batch copies come last, so their source has the lower id
        # and is the representative the connected components keep
        sources = w.rng.choice(n_distinct, size=n_intra, replace=False)
        docs += [("intra_dup", w.near_dup(distinct[int(i)])) for i in sources]
        batch = []
        for cls, ws in docs:
            batch.append((next_id, w.layout(ws)))
            truth[next_id] = cls
            next_id += 1
        out_batches.append(batch)
        prev_distinct = distinct
    return {"store": store, "batches": out_batches, "truth": truth}


def docs_table(docs: list[tuple[int, str]]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([i for i, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
    })


def describe_corpus(c: dict) -> dict:
    classes = list(c["truth"].values())
    texts = [t for b in c["batches"] for _, t in b]
    return {
        "vocab_size": VOCAB_SIZE,
        "vocab_zipf_s": VOCAB_ZIPF_S,
        "store_docs": len(c["store"]),
        "batch_docs": CORPUS_BATCH_DOCS,
        "batches_staged": len(c["batches"]),
        "mean_words": round(float(np.mean([len(t.split()) for t in texts])), 1),
        **{f"share_{k}": round(classes.count(k) / len(classes), 4)
           for k in ("distinct", "store_dup", "intra_dup", "cross_dup",
                     "quality_fail")},
    }
