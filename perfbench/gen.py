"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, size)``:

- :func:`lowcard_corpus` — a ``documents`` table over the fixture's 31-word
  vocabulary, written as ONE parquet row group (the fixtures' layout);
- :func:`highcard_corpus` — a Zipf(a=1.1) ``documents`` table over a large
  synthetic vocabulary, written as many row groups;
- :func:`fixture_tables` — the ten fixture tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the fixtures' exact parquet
  schemas and value domains, at a chosen scale factor.

The word-count generators also store the exact expected counts (a numpy
bincount over the drawn token ids, ``counts.npy``), so word-count results are
checked without an oracle. Files are written into a directory keyed by kind, seed
and size; a finished directory is reused, a half-written one never is
(written under a temporary name, then renamed).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 2

#: The fixture corpus vocabulary (FIXTURES.md): 30 words plus the "dup"
#: marker its near-duplicate documents carry.
VOCAB31 = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


@dataclass(frozen=True)
class Corpus:
    """A generated word-count input and its exact answer."""

    sf_dir: str  # directory holding documents.parquet
    words: np.ndarray  # vocabulary (str objects), indexed by word id
    counts: np.ndarray  # int64 count per word id
    tokens: int  # total tokens

    def topk(self, k: int = 10) -> list[tuple[str, int]]:
        """Top-k (word, count) by count desc, word asc — wc_topk's order."""
        nz = np.flatnonzero(self.counts)
        order = sorted(nz, key=lambda i: (-self.counts[i], self.words[i]))
        return [(str(self.words[i]), int(self.counts[i])) for i in order[:k]]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts another
    return np.random.default_rng([seed, GEN_VERSION, *stream.encode()])


def _cached(root: Path, name: str, build) -> Path:
    """Return ``root/name``, building it with ``build(tmpdir)`` if absent."""
    out = root / name
    if out.is_dir():
        return out
    root.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f".{name}.", dir=root))
    try:
        build(tmp)
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out


def prune(root: Path, keep: set[str]) -> None:
    """Delete cached input directories under ``root`` not named in ``keep``."""
    if not root.is_dir():
        return
    for p in root.iterdir():
        if p.is_dir() and p.name not in keep:
            shutil.rmtree(p, ignore_errors=True)


def _docs_table(
    rng: np.random.Generator, words: pa.Array, ids: np.ndarray, lens: np.ndarray
) -> pa.Table:
    """A ``documents`` table whose texts are the token ids split by ``lens``."""
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    toks = words.take(pa.array(ids))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), toks), " ")
    n = len(lens)
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def _doc_lengths(rng: np.random.Generator, tokens: int) -> np.ndarray:
    """Document lengths uniform on [10, 100] tokens summing to ``tokens``."""
    lens = rng.integers(10, 101, size=tokens // 50 + 100)
    cum = np.cumsum(lens)
    n = int(np.searchsorted(cum, tokens)) + 1
    lens = lens[:n].copy()
    lens[-1] -= int(cum[n - 1] - tokens)
    return lens[lens > 0]


def lowcard_corpus(root: Path, seed: int, tokens: int) -> Corpus:
    """Uniform draws over the 31-word vocabulary, one row group."""

    def build(tmp: Path) -> None:
        rng = _rng(seed, "lowcard")
        ids = rng.integers(0, len(VOCAB31), size=tokens)
        t = _docs_table(rng, pa.array(VOCAB31), ids, _doc_lengths(rng, tokens))
        pq.write_table(t, tmp / "documents.parquet", row_group_size=len(t) + 1)
        np.save(tmp / "counts.npy", np.bincount(ids, minlength=len(VOCAB31)))

    d = _cached(root, f"lowcard-s{seed}-t{tokens}-v{GEN_VERSION}", build)
    return Corpus(str(d), np.asarray(VOCAB31, dtype=object), np.load(d / "counts.npy"), tokens)


def _letter_words(n: int) -> np.ndarray:
    """``n`` distinct 5-letter lowercase words (base-26 digits of the id)."""
    ids = np.arange(n, dtype=np.int64)
    digits = (ids[:, None] // 26 ** np.arange(4, -1, -1)) % 26 + ord("a")
    return digits.astype(np.uint8).view("S5").ravel().astype(str).astype(object)


def highcard_corpus(
    root: Path, seed: int, tokens: int, vocab: int, row_groups: int = 16
) -> Corpus:
    """Zipf(a=1.1) draws over ``vocab`` words, ``row_groups`` row groups.

    Word ranks are bounded at ``vocab`` (inverse-CDF draw), and the seed
    also permutes which word holds which rank.
    """
    words = _letter_words(vocab)

    def build(tmp: Path) -> None:
        rng = _rng(seed, "highcard")
        p = np.arange(1, vocab + 1, dtype=np.float64) ** -1.1
        ranks = np.minimum(np.searchsorted(np.cumsum(p / p.sum()), rng.random(tokens)), vocab - 1)
        ids = rng.permutation(vocab)[ranks]
        t = _docs_table(rng, pa.array(words, pa.string()), ids, _doc_lengths(rng, tokens))
        pq.write_table(t, tmp / "documents.parquet", row_group_size=-(-len(t) // row_groups))
        np.save(tmp / "counts.npy", np.bincount(ids, minlength=vocab))

    d = _cached(root, f"highcard-s{seed}-t{tokens}-v{vocab}-g{GEN_VERSION}", build)
    return Corpus(str(d), words, np.load(d / "counts.npy"), tokens)


# ---------------------------------------------------------------- fixtures


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _fixture_docs(rng: np.random.Generator, n: int) -> pa.Table:
    """Fixture-shaped corpus: 30-word texts, 5% near-duplicates ("<text> dup")."""
    base = [w for w in VOCAB31 if w != "dup"]
    lens = rng.integers(10, 101, size=n)
    ids = rng.integers(0, len(base), size=int(lens.sum()))
    t = _docs_table(rng, pa.array(base), ids, lens)
    text = t.column("text").to_pylist()
    dups = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in dups:
        text[i] = text[int(rng.integers(0, i))] + " dup"
    text = pa.array(text, pa.string())
    t = t.set_column(1, "text", text)
    return t.set_column(4, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))


def _fixture_embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 10 label centres."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(v.ravel())
    )
    return pa.table(
        {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb, "label": pa.array(label)}
    )


def _fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), max(10, int(15_000 * sf))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": i64(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }
    )
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table(
        {
            "p_partkey": i64(n_part),
            "p_name": _pick(r, names, n_part),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }
    )
    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(n_ord),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100),
            "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(r, ["F", "O"], n_li),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li),
        }
    )
    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 10**6
    ts = start + np.sort(r.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": i64(n_ev),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_user, n_ev)),
            "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(np.minimum(r.gamma(2.0, 40.0, n_ev), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _fixture_docs(_rng(seed, "documents"), n_doc)
    t["embeddings"] = _fixture_embeddings(_rng(seed, "embeddings"), n_emb)
    return t


FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fixture_tables(root: Path, seed: int, sf: float) -> str:
    """Write the ten fixture-shaped tables (one row group each); return the dir."""

    def build(tmp: Path) -> None:
        for name, table in _fixture_tables(seed, sf).items():
            pq.write_table(table, tmp / f"{name}.parquet", row_group_size=len(table) + 1)

    return str(_cached(root, f"fixtures-s{seed}-sf{sf:g}-v{GEN_VERSION}", build))
