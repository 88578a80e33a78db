"""Correctness checks for one run's check-pass outputs.

* Table workloads: each query's parquet result is compared with its
  DuckDB oracle over the same tables, normalized by the ``canon`` of
  ``tools/selfcheck.py`` (columns by name, rows sorted) and compared
  exactly, with the same guard against hash-unstable oracle types; both
  sides are hashed.
* The word-count workload: the sharded ``word count`` text output is
  compared with the corpus generator's own tally; each shard must be
  sorted and each word must sit in exactly one shard.
"""
import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from selfcheck import TABLES, canon  # noqa: E402


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def check_tables(data_dir, results_dir, oracle_sql):
    """Return {query: (ok, detail)} for every query in ``oracle_sql``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if not os.path.isfile(f"{data_dir}/{t}.parquet"):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = canon(pd.read_parquet(f"{results_dir}/{name}"))
            rel = con.sql(sql)
            bad = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                   if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()]
            if bad:
                out[name] = (False, f"oracle binds hash-unstable types {bad}")
                continue
            exp = canon(rel.fetchdf())
        except Exception as e:  # noqa: BLE001 - every error is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}"[:500])
            continue
        if list(got.columns) != list(exp.columns):
            out[name] = (False, f"columns {list(got.columns)} vs {list(exp.columns)}")
        elif len(got) != len(exp):
            out[name] = (False, f"rows {len(got)} vs {len(exp)}")
        elif [d.kind for d in got.dtypes] != [d.kind for d in exp.dtypes]:
            out[name] = (False, "dtype kinds differ")
        else:
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                              check_exact=True)
                out[name] = (True, f"{len(got)} rows, sha256 {digest(got)}")
            except AssertionError as e:
                out[name] = (False, f"values differ: {str(e)[:300]}")
    con.close()
    return out


def read_sharded(out_dir):
    """Parse ``word count`` shards; return (counts, problems)."""
    counts, problems = {}, []
    shards = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    if not shards:
        problems.append("no output shards")
    for shard in shards:
        prev = None
        with open(os.path.join(out_dir, shard), encoding="utf-8") as fh:
            for line in fh:
                word, _, cnt = line.rstrip("\n").rpartition(" ")
                if word in counts:
                    problems.append(f"{word!r} in more than one shard or line")
                if prev is not None and word.encode() <= prev.encode():
                    problems.append(f"{shard} not sorted at {word!r}")
                prev = word
                counts[word] = int(cnt)
    return counts, problems


def check_corpus(tally, out_dir):
    """Compare one sharded output with the generator's tally."""
    try:
        counts, problems = read_sharded(out_dir)
    except Exception as e:  # noqa: BLE001
        return False, f"{type(e).__name__}: {e}"[:500]
    if problems:
        return False, "; ".join(problems[:3])
    if counts != tally:
        missing = len(set(tally) - set(counts))
        extra = len(set(counts) - set(tally))
        wrong = sum(1 for w in set(tally) & set(counts) if tally[w] != counts[w])
        return False, f"{missing} words missing, {extra} extra, {wrong} miscounted"
    return True, f"{len(counts)} words, {sum(counts.values())} tokens"
