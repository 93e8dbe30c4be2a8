"""Output check for the Swivel prep pipeline (``prep`` workload).

The reference is computed once per corpus with DuckDB, following the
pipeline's stated semantics (arXiv:1602.02215 §3, operators/swivel.py):

- vocabulary: whitespace tokens with count ≥ min_count, ids by count
  desc then token asc, truncated to a multiple of shard_size;
- co-occurrence: Σ 1/d over token pairs at distance d ≤ window within a
  document (positions counted before the vocabulary filter), symmetric;
- marginals: row and column sums; modulo shards (i % N, j % N) at local
  coordinates (i div N, j div N) with N = V / shard_size.

:func:`check_outputs` compares a ``write_outputs`` directory plus the
collected vocabulary with the reference and checks the invariants: ids
dense and unique, Σrow = Σcol = Σw, every nnz in exactly one shard.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

WINDOW, MIN_COUNT, SHARD_SIZE = 10, 5, 4096


def reference(corpus_parquet: str, shard_size: int = SHARD_SIZE) -> dict:
    con = duckdb.connect()
    con.execute(f"""
        CREATE TEMP TABLE toks AS
        SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM read_parquet('{corpus_parquet}'))""")
    vocab = con.execute(f"""
        SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS id
        FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        WHERE cnt >= {MIN_COUNT} ORDER BY id""").fetchdf()
    v = len(vocab)
    keep = v - v % shard_size if shard_size > 1 and v >= shard_size else v
    vocab = vocab[vocab["id"] < keep].reset_index(drop=True)
    con.register("vocab_df", vocab)
    con.execute("CREATE TEMP TABLE vocab AS SELECT * FROM vocab_df")
    pairs = " UNION ALL ".join(
        f"SELECT a.tok AS t1, b.tok AS t2, {1.0 / d!r} AS w FROM toks a JOIN toks b"
        f" ON a.doc_id = b.doc_id AND b.pos = a.pos + {d}"
        for d in range(1, WINDOW + 1)
    )
    cooc = con.execute(f"""
        WITH p AS ({pairs}),
        m AS (SELECT v1.id AS row_id, v2.id AS col_id, w FROM p
              JOIN vocab v1 ON p.t1 = v1.tok JOIN vocab v2 ON p.t2 = v2.tok)
        SELECT row_id, col_id, sum(w) AS w FROM (
            SELECT row_id, col_id, w FROM m
            UNION ALL SELECT col_id, row_id, w FROM m)
        GROUP BY row_id, col_id ORDER BY row_id, col_id""").fetchdf()
    con.close()
    return {"vocab": vocab, "cooc": cooc, "vocab_size": keep,
            "num_shards": max(keep // shard_size, 1)}


def _read_lines(path: str) -> list[str]:
    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            out.extend(line.rstrip("\n") for line in fh)
    return out


def read_shards(out_dir: str) -> pd.DataFrame:
    """All shard rows, with the shard coordinates taken from the
    partition directory names (row_shard=R/col_shard=C)."""
    frames = []
    for f in glob.glob(os.path.join(out_dir, "shards", "row_shard=*",
                                    "col_shard=*", "*.parquet")):
        parts = f.split(os.sep)
        df = pd.read_parquet(f)
        df["row_shard"] = int(parts[-3].split("=", 1)[1])
        df["col_shard"] = int(parts[-2].split("=", 1)[1])
        frames.append(df)
    if not frames:
        return pd.DataFrame(columns=["row_id", "col_id", "w", "local_row",
                                     "local_col", "row_shard", "col_shard"])
    return pd.concat(frames, ignore_index=True)


def _close(a, b) -> bool:
    return bool(np.allclose(np.asarray(a, float), np.asarray(b, float),
                            rtol=1e-9, atol=1e-9))


def check_outputs(ref: dict, vocab_rows: list[tuple], vocab_size: int,
                  out_dir: str) -> list[str]:
    """Problems found in one prep output (empty list = correct)."""
    problems: list[str] = []
    rv = ref["vocab"]
    v_ref = ref["vocab_size"]
    n = ref["num_shards"]
    if vocab_size != v_ref:
        problems.append(f"vocab_size {vocab_size} != reference {v_ref}")
    ids = [int(r[2]) for r in vocab_rows]
    if len(set(ids)) != len(ids):
        problems.append(f"vocab ids not unique: {len(ids)} rows, {len(set(ids))} distinct")
    if ids and (min(ids) != 0 or max(ids) != len(ids) - 1):
        problems.append(f"vocab ids not dense: range [{min(ids)}, {max(ids)}] for {len(ids)} rows")
    want = list(zip(rv["tok"], rv["cnt"].astype(int), rv["id"].astype(int)))
    got = sorted(((str(t), int(c), int(i)) for t, c, i in vocab_rows), key=lambda r: r[2])
    if got != want:
        bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
        problems.append(f"vocab (tok, cnt, id) differs from reference in {bad} rows")
    for name in ("row_vocab.txt", "col_vocab.txt"):
        if _read_lines(os.path.join(out_dir, name)) != list(rv["tok"]):
            problems.append(f"{name} is not the reference vocabulary in id order")

    sh = read_shards(out_dir)
    cells = sh[["row_id", "col_id"]].drop_duplicates()
    if len(cells) != len(sh):
        problems.append(f"{len(sh) - len(cells)} nnz written to more than one shard row")
    ref_c = ref["cooc"]
    if len(cells) != len(ref_c):
        problems.append(f"nnz {len(cells)} != reference {len(ref_c)}")
    else:
        m = sh.sort_values(["row_id", "col_id"]).reset_index(drop=True)
        if not (np.array_equal(m["row_id"].to_numpy(), ref_c["row_id"].to_numpy())
                and np.array_equal(m["col_id"].to_numpy(), ref_c["col_id"].to_numpy())):
            problems.append("nnz coordinates differ from reference")
        elif not _close(m["w"], ref_c["w"]):
            problems.append("co-occurrence weights differ from reference")
    if len(sh):
        coords_ok = (
            (sh["row_shard"] == sh["row_id"] % n) & (sh["col_shard"] == sh["col_id"] % n)
            & (sh["local_row"] == sh["row_id"] // n) & (sh["local_col"] == sh["col_id"] // n)
        )
        if not coords_ok.all():
            problems.append(f"{int((~coords_ok).sum())} nnz in the wrong shard or local cell")

    row = [float(x) for x in _read_lines(os.path.join(out_dir, "row_sums.txt"))]
    col = [float(x) for x in _read_lines(os.path.join(out_dir, "col_sums.txt"))]
    want_row = ref_c.groupby("row_id")["w"].sum()
    if len(row) != len(want_row) or not _close(row, want_row.to_numpy()):
        problems.append("row_sums.txt differs from reference marginals")
    if len(col) != len(want_row) or not _close(col, want_row.to_numpy()):
        problems.append("col_sums.txt differs from reference marginals")
    total = float(sh["w"].sum()) if len(sh) else 0.0
    if not (math.isclose(sum(row), sum(col), rel_tol=1e-9)
            and math.isclose(sum(row), total, rel_tol=1e-9)):
        problems.append(f"mass mismatch: Σrow={sum(row)} Σcol={sum(col)} Σw={total}")
    return problems


def write_reference_outputs(ref: dict, out_dir: str) -> list[tuple]:
    """Lay the reference out as write_outputs does; returns its vocab rows.
    Used by the checker's self-check."""
    n = ref["num_shards"]
    vocab = ref["vocab"]
    for name in ("row_vocab.txt", "col_vocab.txt"):
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        with open(os.path.join(out_dir, name, "part-00000"), "w") as f:
            f.writelines(t + "\n" for t in vocab["tok"])
    sums = ref["cooc"].groupby("row_id")["w"].sum()
    for name in ("row_sums.txt", "col_sums.txt"):
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        with open(os.path.join(out_dir, name, "part-00000"), "w") as f:
            f.writelines(f"{x!r}\n" for x in sums)
    c = ref["cooc"].copy()
    c["local_row"], c["local_col"] = c["row_id"] // n, c["col_id"] // n
    for (r, k), g in c.groupby([c["row_id"] % n, c["col_id"] % n]):
        d = os.path.join(out_dir, "shards", f"row_shard={r}", f"col_shard={k}")
        os.makedirs(d, exist_ok=True)
        g.to_parquet(os.path.join(d, "part-00000.parquet"), index=False)
    return list(zip(vocab["tok"], vocab["cnt"], vocab["id"]))


def self_check(corpus_parquet: str, work: str) -> list[str]:
    """The checker must accept the reference laid out as outputs and
    reject two corrupted copies: a duplicated vocab id, and a cell
    written into two shards. Returns what went wrong (empty = ok)."""
    import shutil

    ref = reference(corpus_parquet, shard_size=64)
    good = os.path.join(work, "good")
    rows = write_reference_outputs(ref, good)
    errors = []
    p = check_outputs(ref, rows, ref["vocab_size"], good)
    if p:
        errors.append(f"checker rejects the reference itself: {p}")
    dup = list(rows)
    dup[1] = (dup[1][0], dup[1][1], dup[0][2])
    if not check_outputs(ref, dup, ref["vocab_size"], good):
        errors.append("checker accepts a duplicated vocab id")
    two = os.path.join(work, "two_shards")
    shutil.copytree(good, two)
    src = sorted(glob.glob(os.path.join(two, "shards", "*", "*", "*.parquet")))
    cell = pd.read_parquet(src[0]).head(1)
    other = os.path.join(os.path.dirname(src[-1]), "part-00001.parquet")
    cell.to_parquet(other, index=False)
    if not check_outputs(ref, rows, ref["vocab_size"], two):
        errors.append("checker accepts a cell written into two shards")
    return errors
