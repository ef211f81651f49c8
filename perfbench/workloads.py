"""The benchmark's workloads: what one round calls and how each result is checked.

A round is one benchmark job: a fixed list of calls into the engine's
public functions, each timed from outside as build (the operator fn) plus
collect (or ``sink_parquet``). Results are checked outside the timed region.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import gen

#: Word-count corpus sizes (tokens; high-card vocabulary), sized so one
#: round takes a few seconds on local[3]: big enough that scan, map and
#: combine (low-card) and exchange, reduce and write (high-card) outweigh
#: fixed per-call overhead.
LOWCARD_TOKENS = 6_000_000
HIGHCARD_TOKENS = 4_000_000
HIGHCARD_VOCAB = 700_000

#: Scale factor of the generated fixture set the operator workload reads.
FIXTURE_SF = 0.02

#: The operator mix: two driver-build and loader heavy queries (a star join
#: and a five-way join, 4 and 5 load_table calls), then the operator whose
#: time goes to eager build-time Spark jobs, a candidate join and a
#: Python-worker Arrow kernel.
OPERATOR_KEYS = ("join_star", "tpch_q9", "dedup_ngram_jaccard")


@dataclass
class Call:
    """One engine call of a round: ``build(spark, engine)`` makes the
    DataFrame, ``finish(df, engine)`` runs it (collect or write) and returns
    what ``check`` inspects."""

    key: str
    build: Callable
    finish: Callable
    check: Callable[[object], str | None]  # None = correct, else why not
    tokens: int = 0
    phase: str = "collect"  # span name of finish: collect | sink


@dataclass
class Workload:
    name: str
    inputs: list[str]  # names of the generated input directories
    calls: list[Call] = field(default_factory=list)
    oracle_dir: str | None = None  # fixture dir whose DuckDB oracle results are checked
    pending: dict[str, list[str]] = field(default_factory=dict)  # key -> result digests
    dedup_rows: dict[str, int] = field(default_factory=dict)

    def verify_pending(self, engine) -> dict[str, str]:
        """Check every collected operator result against its DuckDB oracle;
        return ``{key: reason}`` for each key with a mismatched call."""
        if not self.pending:
            return {}
        want = oracle_digests(engine, self.oracle_dir, sorted(self.pending))
        bad = {}
        for key, digests in self.pending.items():
            n = sum(d != want[key] for d in digests)
            if n:
                bad[key] = f"{n}/{len(digests)} results differ from the DuckDB oracle"
        return bad


# ---------------------------------------------------------------- checking


def _norm(v):
    """Canonical cell value across Spark and DuckDB (the test suite's rules)."""
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else round(float(v), 9) + 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(engine, sf_dir: str, keys: list[str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for key in keys:
            res = con.execute(engine.REGISTRY[key].oracle)
            out[key] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def topk_check(corpus: gen.Corpus):
    want = corpus.topk(10)

    def check(rows) -> str | None:
        got = [(r["word"], r["cnt"]) for r in rows]
        return None if got == want else f"top-10 {got[:3]}... != generator {want[:3]}..."

    return check


def _written_counts_check(corpus: gen.Corpus, out_dir: Path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    nz = corpus.counts.nonzero()[0]
    want = pa.table({"word": pa.array(corpus.words[nz], pa.string()), "cnt": pa.array(corpus.counts[nz])})
    want = want.sort_by("word")

    def check(_) -> str | None:
        got = pq.read_table(out_dir, columns=["word", "cnt"]).sort_by("word")
        if got.num_rows != want.num_rows:
            return f"{got.num_rows} words written, generator has {want.num_rows}"
        ok = got.column("word").equals(want.column("word")) and got.column("cnt").equals(want.column("cnt"))
        return None if ok else "written counts differ from the generator's"

    return check


def collect(df, engine):
    return df.collect()


def _digest_into(workload: Workload, key: str):
    def check(rows_and_cols) -> str | None:
        cols, rows = rows_and_cols
        workload.pending.setdefault(key, []).append(digest(cols, rows))
        if key.startswith("dedup_"):
            workload.dedup_rows[key] = len(rows)
        return None  # compared with the oracle after the timed loop

    return check


def _collect_with_columns(df, engine):
    return df.columns, df.collect()


# ---------------------------------------------------------------- workloads


def op(key: str, sf_dir: str):
    return lambda spark, engine: engine.REGISTRY[key].fn(spark, sf_dir)


def wordcount(work: Path, seed: int, scale: float = 1.0) -> Workload:
    """wc_topk over a one-row-group low-card corpus, then wc_counts written
    with sink_parquet from a many-row-group high-card corpus."""
    inputs = work / "inputs"
    low = gen.lowcard_corpus(inputs, seed, int(LOWCARD_TOKENS * scale))
    high = gen.highcard_corpus(inputs, seed, int(HIGHCARD_TOKENS * scale), int(HIGHCARD_VOCAB * scale))
    out = work / "out" / "wc_counts"

    def sink(df, engine):
        engine.sources.loader.sink_parquet(df, str(out))

    w = Workload("wordcount", [Path(low.sf_dir).name, Path(high.sf_dir).name])
    w.calls = [
        Call("wc_topk@lowcard", op("wc_topk", low.sf_dir), collect, topk_check(low), low.tokens),
        Call("wc_counts@highcard", op("wc_counts", high.sf_dir), sink, _written_counts_check(high, out), high.tokens, "sink"),
    ]
    return w


def operators(work: Path, seed: int, scale: float = 1.0) -> Workload:
    """One pass over the operator mix on a generated fixture set, in a
    seed-permuted order; each result is hash-checked against DuckDB."""
    sf_dir = gen.fixture_tables(work / "inputs", seed, round(FIXTURE_SF * scale, 6))
    w = Workload("operators", [Path(sf_dir).name])
    w.oracle_dir = sf_dir
    keys = list(OPERATOR_KEYS)
    random.Random(seed).shuffle(keys)
    w.calls = [Call(k, op(k, sf_dir), _collect_with_columns, _digest_into(w, k)) for k in keys]
    return w


WORKLOADS = {"wordcount": wordcount, "operators": operators}
