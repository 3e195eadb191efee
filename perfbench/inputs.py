"""Seeded benchmark inputs, materialized once and cached in the checkout.

- pages corpora for the two extraction workloads, built with
  ``doctor_spark.corpus.generate_page`` (payload and golden together);
- DuckDB oracle results for the query mix over the tables in
  ``perfbench/tables/`` (the seed-42 driver tables), computed once per
  table contents and oracle SQL and stored normalized, so the timed run
  only compares.

Nothing here starts Spark: inputs are written with pyarrow and DuckDB, so
input generation never warms the JVM the measurement is about.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# A seed picks a doc-id window this far apart from the next seed's.  It is a
# multiple of 100, so every window keeps the generator's format mix
# (the format is a function of doc_id % 100).
SEED_STRIDE = 10_000_000

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _publish(tmp: Path, final: Path) -> None:
    """Move a fully written directory into place; a crashed writer leaves
    only ``*.tmp`` debris, never a half-written cache entry."""
    if final.exists():
        shutil.rmtree(tmp)
        return
    os.replace(tmp, final)


def _fresh_tmp(final: Path) -> Path:
    tmp = final.with_name(final.name + f".{os.getpid()}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return tmp


# -- pages corpora -----------------------------------------------------------


def corpus_dir(cache: Path, seed: int, n_docs: int, n_files: int) -> Path:
    """``n_docs`` pages starting at ``seed * SEED_STRIDE``, in ``n_files``
    parquet files of equal doc count."""
    from doctor_spark.corpus import CORPUS_VERSION, generate_page

    final = cache / "corpus" / f"v{CORPUS_VERSION}-s{seed}-n{n_docs}-f{n_files}"
    if final.exists():
        return final
    tmp = _fresh_tmp(final)
    start = seed * SEED_STRIDE
    per_file = math.ceil(n_docs / n_files)
    for f in range(n_files):
        lo = start + f * per_file
        hi = min(start + n_docs, lo + per_file)
        rows = [generate_page(i) for i in range(lo, hi)]
        table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
        pq.write_table(table, tmp / f"part-{f:05d}.parquet")
    _publish(tmp, final)
    return final


# -- oracle results -----------------------------------------------------------


def normalize(df):
    """Order-insensitive canonical form, as tests/test_entry_contract.py
    compares Spark and DuckDB results."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def frames_match(got, want) -> str:
    """Empty string when two normalized frames agree, else the first
    difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for col in got.columns:
        for i, (a, b) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not values_equal(a, b):
                return f"{col}[{i}]: {a!r} vs {b!r}"
    return ""


def oracle_dir(cache: Path, tables: Path, names: list[str]) -> Path:
    """One pickled, normalized DuckDB result per query name, keyed by the
    table contents and the oracle SQL text, so a changed oracle is
    recomputed and an unchanged one never is."""
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    h = hashlib.sha256(json.dumps([[n, sqls[n]] for n in names]).encode())
    for t in TABLE_NAMES:
        h.update((tables / f"{t}.parquet").read_bytes())
    key = h.hexdigest()[:16]
    final = cache / "oracles" / key
    if final.exists():
        return final
    tmp = _fresh_tmp(final)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    for n in names:
        with open(tmp / f"{n}.pkl", "wb") as fh:
            pickle.dump(normalize(con.sql(sqls[n]).df()), fh)
    con.close()
    _publish(tmp, final)
    return final


def load_oracle(odir: Path, name: str):
    # only ever reads pickles that oracle_dir above wrote into the cache
    with open(odir / f"{name}.pkl", "rb") as fh:
        return pickle.load(fh)
