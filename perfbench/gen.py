"""Seeded input generator for every benchmark workload.

Everything the engine sees is derived here from ``seed`` and a size
profile: parquet files written with pyarrow (byte-identical for the
same seed and size) plus the generator's own model of what the engine
must produce (planted duplicate families, the live set of the CDC
table). The engine never sees the model; the checks compare against
it.

The data imitates the TPC-H-like star schema and the ``documents`` /
``embeddings`` tables the repository's tests use (same column names
and types), but is synthesized, so the benchmark needs nothing outside
its own checkout.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_YEARS = tuple(range(1992, 1999))  # 7 batches, as in TPC-H
#: re-runs of loaded years after the loads, more than any run makes
RERUNS = 64
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STOPWORDS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "is", "of", "to", "in"),
    "es": ("el", "la", "los", "y", "es", "de", "que"),
    "fr": ("le", "la", "les", "et", "est", "de", "que"),
}
EMBED_DIM = 64

#: Size profiles. ``full`` is what the benchmark measures; ``tiny`` is
#: the smoke-test size (the same code paths on smaller inputs).
SIZES = {
    "full": {
        "etl_rows_per_batch": 85_000,
        "dedup_docs_per_shard": 20_000,
        "warmup_docs_per_shard": 5_000,
        "cdc_docs": 1_000,
        "epoch_changes": 32,
    },
    "tiny": {
        "etl_rows_per_batch": 300,
        "dedup_docs_per_shard": 120,
        "warmup_docs_per_shard": 60,
        "cdc_docs": 200,
        "epoch_changes": 8,
    },
}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose, index)."""
    return np.random.default_rng([int(seed), *stream])


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)
    return path


def _vocab(n: int = 4000) -> list[str]:
    """Fixed synthetic vocabulary (seed-independent): consonant-vowel
    syllable words, long enough that random documents share almost no
    word 3-shingles."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vows]
    words, i = [], 0
    while len(words) < n:
        a, b, c = syl[i % len(syl)], syl[(i // len(syl)) % len(syl)], syl[
            (i * 7 + 3) % len(syl)]
        words.append(a + b + (c if i % 3 else ""))
        i += 1
    return sorted(set(words))[:n]


VOCAB = _vocab()
_VOCAB_ARR = np.array(VOCAB, dtype=object)
_SW_ARR = np.array([STOPWORDS[k] for k in sorted(STOPWORDS)], dtype=object)


def _docs(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` random documents of ``lo``..``hi``-1 words, each in one
    language: ~15% of its words are that language's stopwords, the
    rest vocabulary words. Drawn in bulk, so a 20k-document shard
    takes well under a second."""
    lengths = rng.integers(lo, hi, size=n)
    langs = rng.integers(len(STOPWORDS), size=n)
    total = int(lengths.sum())
    words = _VOCAB_ARR[rng.integers(len(VOCAB), size=total)]
    is_sw = rng.random(total) < 0.15
    sw = rng.integers(len(_SW_ARR[0]), size=total)
    tok_lang = np.repeat(langs, lengths)
    words[is_sw] = _SW_ARR[tok_lang[is_sw], sw[is_sw]]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]


def _edit(rng: np.random.Generator, text: str) -> str:
    """One planted near-duplicate edit: substitute a single word with
    one that differs from it (Jaccard of word 3-shingles stays ≥ 0.85
    on the ≥ 40-word documents families are built from)."""
    words = text.split(" ")
    i = int(rng.integers(len(words)))
    new = VOCAB[int(rng.integers(len(VOCAB)))]
    while new == words[i]:
        new = VOCAB[int(rng.integers(len(VOCAB)))]
    words[i] = new
    return " ".join(words)


def file_digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` (in order) — the generator's
    determinism fingerprint."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# -- batch: star schema ---------------------------------------------------


@dataclass
class EtlInputs:
    lineitem: str
    orders: str
    customer: str
    nation: str
    #: batch (ship year) execution order: the loads, then re-runs of
    #: loaded years
    order: list[int]
    rows_per_year: dict[int, int]

    def paths(self) -> list[str]:
        return [self.lineitem, self.orders, self.customer, self.nation]


def etl_inputs(seed: int, out_dir: str, rows_per_batch: int,
               n_loads: int = len(SHIP_YEARS)) -> EtlInputs:
    """Star schema for the per-ship-year fact task.

    Planted defects (each one drives a DQ rule or the first-wins
    lookup): ~0.5% of line items reference a missing order, ~1% of
    orders a missing customer, ~1% of customers a missing nation,
    ~0.5% of customer keys appear twice (the later copy must lose),
    ~0.5% of quantities are non-positive and ~0.5% of discounts exceed
    the 10% cap.

    The batch order loads ``n_loads`` seed-chosen years, then re-runs
    ``RERUNS`` seed-chosen ones of them."""
    rng = _rng(seed, 1)
    n_li = rows_per_batch * len(SHIP_YEARS)
    n_orders = max(8, n_li // 4)
    n_cust = max(4, n_orders // 10)

    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)],
                                pa.int32()),
    })

    c_nat = rng.integers(N_NATIONS, size=n_cust)
    bad_nat = rng.random(n_cust) < 0.01
    c_nat[bad_nat] = N_NATIONS + rng.integers(3, size=int(bad_nat.sum()))
    c_seg = rng.integers(len(SEGMENTS), size=n_cust)
    n_dup = max(1, n_cust // 200)
    dup_keys = rng.choice(n_cust, size=n_dup, replace=False) + 1
    keys = np.concatenate([np.arange(1, n_cust + 1), dup_keys])
    seg = np.concatenate([c_seg, (c_seg[dup_keys - 1] + 1) % len(SEGMENTS)])
    nat = np.concatenate([c_nat, (c_nat[dup_keys - 1] + 1) % N_NATIONS])
    customer = pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(nat, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, len(keys)), 2),
        "c_mktsegment": [SEGMENTS[s] for s in seg],
    })

    o_cust = rng.integers(1, n_cust + 1, size=n_orders)
    miss = rng.random(n_orders) < 0.01
    o_cust[miss] = n_cust + 1 + np.arange(int(miss.sum()))
    base = np.datetime64("1992-01-01")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(3, size=n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": pa.array(
            base + rng.integers(0, 7 * 365, size=n_orders), pa.date32()),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(5, size=n_orders)],
    })

    year = np.repeat(np.array(SHIP_YEARS), rows_per_batch)
    l_order = rng.integers(1, n_orders + 1, size=n_li)
    miss = rng.random(n_li) < 0.005
    l_order[miss] = n_orders + 1 + np.arange(int(miss.sum()))
    # per-order line numbers keep (l_orderkey, l_linenumber) unique
    idx = np.lexsort((np.arange(n_li), l_order))
    sorted_keys = l_order[idx]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_id = np.repeat(np.arange(len(starts)),
                       np.diff(np.r_[starts, n_li]))
    linenumber = np.empty(n_li, dtype=np.int32)
    linenumber[idx] = np.arange(n_li) - starts[run_id] + 1
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    qty[rng.random(n_li) < 0.005] = 0.0
    disc = np.round(rng.integers(0, 11, size=n_li) / 100.0, 2)
    disc[rng.random(n_li) < 0.005] = 0.15
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    day = rng.integers(0, 365, size=n_li)
    shipdate = (year - 1970).astype("datetime64[Y]").astype(
        "datetime64[D]") + day
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, size=n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in
                         rng.integers(3, size=n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=n_li)],
        "l_shipdate": pa.array(shipdate, pa.date32()),
    })

    loads = [int(y) for y in rng.permutation(SHIP_YEARS)[:n_loads]]
    order = loads + [int(y) for y in rng.choice(loads, size=RERUNS)]
    return EtlInputs(
        lineitem=_write(lineitem, f"{out_dir}/lineitem.parquet",
                        row_group_size=rows_per_batch),
        orders=_write(orders, f"{out_dir}/orders.parquet"),
        customer=_write(customer, f"{out_dir}/customer.parquet"),
        nation=_write(nation, f"{out_dir}/nation.parquet"),
        order=order,
        rows_per_year={y: rows_per_batch for y in SHIP_YEARS},
    )


# -- batch: corpus shards -------------------------------------------------


@dataclass
class CorpusShard:
    shard_id: int
    path: str
    n_docs: int
    #: planted near-duplicate families (lists of doc ids, base first)
    families: list[list[int]] = field(default_factory=list)
    #: planted exact-copy groups (lists of doc ids with identical text)
    exact_groups: list[list[int]] = field(default_factory=list)

    @property
    def planted_pairs(self) -> int:
        return sum(len(f) * (len(f) - 1) // 2 for f in self.families)


def corpus_shard(seed: int, out_dir: str, shard_id: int,
                 n_docs: int) -> CorpusShard:
    """One shard: ~70% unique documents, ~20% in near-dup families of
    3-5 (base + single-word edits of the base), ~10% in exact-copy
    groups of 2-3. Doc ids are disjoint across shards; rows are
    shuffled so duplicates are not adjacent."""
    rng = _rng(seed, 2, shard_id)
    # layout first: (kind, copies) per group until the shard is full
    layout: list[tuple[str, int]] = []
    n = 0
    while n < n_docs:
        r = rng.random()
        if r < 0.2 and n_docs - n >= 5:
            layout.append(("family", int(rng.integers(3, 6))))
        elif r < 0.3 and n_docs - n >= 3:
            layout.append(("exact", int(rng.integers(2, 4))))
        else:
            layout.append(("unique", 1))
        n += layout[-1][1]
    n_fams = sum(kind == "family" for kind, _ in layout)
    bases = iter(_docs(rng, n_fams, 40, 80))
    others = iter(_docs(rng, len(layout) - n_fams, 20, 80))
    texts: list[str] = []
    fams: list[list[int]] = []
    groups: list[list[int]] = []
    for kind, k in layout:
        slots = list(range(len(texts), len(texts) + k))
        if kind == "family":
            base = next(bases)
            fams.append(slots)
            texts.append(base)
            texts.extend(_edit(rng, base) for _ in range(k - 1))
        else:
            if kind == "exact":
                groups.append(slots)
            texts.extend([next(others)] * k)
    perm = rng.permutation(len(texts))  # position -> slot
    base_id = shard_id * 10_000_000
    ids = base_id + perm
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "source": [f"src{int(i) % 20}" for i in ids],
    }).sort_by("doc_id")
    return CorpusShard(
        shard_id=shard_id,
        path=_write(table, f"{out_dir}/shard_{shard_id}.parquet"),
        n_docs=len(texts),
        families=[[int(ids[i]) for i in f] for f in fams],
        exact_groups=[[int(ids[i]) for i in g] for g in groups],
    )


# -- cdc -------------------------------------------------------------------


def _embedding(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _corpus_table(ids, texts, embs, is_del=None) -> pa.Table:
    cols = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "embedding": pa.array(
            [None if e is None else e.tolist() for e in embs],
            pa.list_(pa.float32())),
    }
    if is_del is not None:
        cols["is_del"] = pa.array(is_del, pa.bool_())
    return pa.table(cols)


@dataclass
class Epoch:
    index: int
    path: str
    inserted: list[int]
    updated: list[int]
    deleted: list[int]

    @property
    def n_changes(self) -> int:
        return len(self.inserted) + len(self.updated) + len(self.deleted)


class CorpusModel:
    """The generator's model of the CDC table's live set, and the
    seeded source of its change stream: epoch ``i`` draws from its own
    stream ``(seed, 3, i)`` and the live set, so the same seed yields
    the same epochs however fast they are applied."""

    def __init__(self, seed: int, out_dir: str, n_docs: int) -> None:
        self.seed = seed
        self.out_dir = out_dir
        rng = _rng(seed, 5)
        self.live: dict[int, tuple[str, np.ndarray]] = {}
        embs = _embedding(rng, n_docs)
        for i, text in enumerate(_docs(rng, n_docs, 20, 60)):
            self.live[i] = (text, embs[i])
        self.next_id = n_docs
        ids = sorted(self.live)
        self.initial_path = _write(
            _corpus_table(ids, [self.live[i][0] for i in ids],
                          [self.live[i][1] for i in ids]),
            f"{out_dir}/initial.parquet")

    def live_bytes(self) -> int:
        """User bytes of the live set: UTF-8 text plus 4·dim per row."""
        return sum(len(t.encode("utf-8")) + 4 * EMBED_DIM
                   for t, _ in self.live.values())

    def content_hash(self, doc_id: int) -> str:
        text, emb = self.live[doc_id]
        return hashlib.md5(
            text.encode("utf-8") + emb.astype(np.float32).tobytes()
        ).hexdigest()

    def epoch(self, index: int, n_changes: int) -> Epoch:
        """Draw epoch ``index`` (≈40% inserts, 35% updates, 25%
        deletes, every key at most once), write it as the MERGE
        source parquet, and advance the model."""
        rng = _rng(self.seed, 3, index)
        n_ins = int(round(n_changes * 0.40))
        n_upd = int(round(n_changes * 0.35))
        n_del = n_changes - n_ins - n_upd
        live_ids = np.array(sorted(self.live))
        touched = rng.choice(live_ids, size=n_upd + n_del, replace=False)
        upd = sorted(int(i) for i in touched[:n_upd])
        dele = sorted(int(i) for i in touched[n_upd:])
        ins = list(range(self.next_id, self.next_id + n_ins))
        self.next_id += n_ins
        embs = _embedding(rng, n_ins + n_upd)
        rows_id, rows_text, rows_emb, rows_del = [], [], [], []
        for j, (i, t) in enumerate(zip(ins, _docs(rng, n_ins, 20, 60))):
            self.live[i] = (t, embs[j])
            rows_id.append(i), rows_text.append(t)
            rows_emb.append(embs[j]), rows_del.append(False)
        for j, i in enumerate(upd):
            t = _edit(rng, self.live[i][0])
            self.live[i] = (t, embs[n_ins + j])
            rows_id.append(i), rows_text.append(t)
            rows_emb.append(embs[n_ins + j]), rows_del.append(False)
        for i in dele:
            del self.live[i]
            rows_id.append(i), rows_text.append(None)
            rows_emb.append(None), rows_del.append(True)
        path = _write(
            _corpus_table(rows_id, rows_text, rows_emb, rows_del),
            f"{self.out_dir}/epoch_{index:05d}.parquet")
        return Epoch(index, path, ins, upd, dele)

    def read_ids(self, index: int, k: int) -> list[int]:
        """``k`` seed-chosen live ids for the point reads after epoch
        ``index``."""
        rng = _rng(self.seed, 4, index)
        live_ids = np.array(sorted(self.live))
        return sorted(int(i) for i in
                      rng.choice(live_ids, size=k, replace=False))
