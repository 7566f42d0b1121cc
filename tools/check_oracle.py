#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle (oracle_sql.json) on the same sf dir.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--skip-n2] [--ordered]

--skip-n2 excludes the oracles whose DUCKDB side is quadratic (exact
pair-set cross joins / list-intersection self-joins) — the Spark side of
every one of them is sub-quadratic, it is only the oracle formulation
that can't scale. This is the sf0.1 gate tier: everything else must
still be green at 10x the regular gate SF.

--ordered also checks row ORDER, which `canon` (order-free) never sees.
For each row whose oracle ends in ORDER BY (optionally followed by
LIMIT) and whose order-free compare passed, the Spark rows in file order
are compared with the oracle's sequence:
  ORDERED  the sequences are equal;
  TIES     they differ, but the Spark rows are sorted by the ORDER BY
           keys (NULLs first ascending, last descending, as in Spark),
           so only rows with tied keys are permuted;
  UNORDERED the Spark rows are not sorted by the ORDER BY keys, or the
           keys are not columns of the output (named or by position).
"""
import json, re, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# EMPTY since r17 (VERDICT r16 item 3): the jaccard-family oracles were
# rewritten in inverted-index form (intersection size = shared-shingle
# equi-join row count — 567 s -> 1.4 s at sf0.1), the edit-distance
# oracle length-bucket + char-histogram blocked (328 s -> 8.7 s), the
# streaming-ingest accept chain's NOT EXISTS layers count-joined, and
# the remaining ten rows (embedding/ANN/decontaminate) measured
# sub-3 s at sf0.1 as they stood. The FULL row set (280 as of r18; see
# README's gate history for the current count) gates at sf0.1 with 0
# skipped. --skip-n2 is kept as a no-op flag so documented invocations
# keep working.
N2_ORACLES = set()


def canon(rows, cols):
    """Sort columns by name, then rows; normalize floats/None."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        return repr(v)

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def order_terms(sql):
    """The terms of a trailing top-level ORDER BY (before an optional
    LIMIT), or None when the query does not end in one."""
    depth, quote, start, cuts = 0, None, -1, []
    up = sql.upper()
    for i, c in enumerate(sql):
        if quote:
            quote = None if c == quote else quote
        elif c in "'\"":
            quote = c
        elif c in "()":
            depth += 1 if c == "(" else -1
        elif depth == 0 and c == "," and start >= 0:
            cuts.append(i)
        elif depth == 0 and up.startswith("ORDER BY", i) and \
                not (i and (sql[i - 1].isalnum() or sql[i - 1] == "_")):
            start, cuts = i + len("ORDER BY"), []
    if start < 0:
        return None
    tail = sql[start:]
    limit = re.search(r"\bLIMIT\b", tail, re.I)
    body = tail[:limit.start()] if limit else tail
    if re.search(r"\b(FROM|WHERE|GROUP|HAVING|SELECT|UNION)\b", body, re.I):
        return None  # an inner ORDER BY, not the query's last clause
    bounds = [start - 1] + cuts + [start + len(body)]
    return [sql[a + 1:b].strip().rstrip(";") for a, b in zip(bounds, bounds[1:])]


def sorted_by(con, path, cols, terms):
    """Whether the rows of parquet `path`, in file order, are sorted by the
    ORDER BY `terms`: a stable re-sort by them must leave every row in
    place. Positions and qualified names are resolved to output columns."""
    def resolve(t):
        m = re.fullmatch(r"(\d+)(\s.*)?", t, re.S)
        if m:
            return f'"{cols[int(m.group(1)) - 1]}"{m.group(2) or ""}'
        return re.sub(r"^\w+\.(\w+)", r"\1", t)
    keys = ", ".join(resolve(t) for t in terms)
    try:
        moved = con.execute(
            f"SELECT count(*) FROM (SELECT __i, row_number() OVER "
            f"(ORDER BY {keys}, __i) AS __r FROM (SELECT *, row_number() "
            f"OVER () AS __i FROM read_parquet('{path}'))) WHERE __i <> __r"
        ).fetchone()[0]
    except Exception:
        return False
    return moved == 0


def check_order(con, name, sql, path, grows, gcols, wrows, wcols):
    """One row's --ordered verdict, printed; returns it."""
    terms = order_terms(sql)
    if terms is None:
        return None

    def seq(rows, cols):
        return [canon([r], cols)[1][0] for r in rows]
    if seq(grows, gcols) == seq(wrows, wcols):
        verdict = "ORDERED"
    elif sorted_by(con, path, gcols, terms):
        verdict = "TIES"
    else:
        verdict = "UNORDERED"
    print(f"{verdict} {name} (ORDER BY {', '.join(terms)})")
    return verdict


def main(sf_dir, out_dir, skip_n2=False, ordered=False):
    con = duckdb.connect()
    # the --ordered sortedness check runs under Spark's NULL order
    ocon = duckdb.connect()
    ocon.execute("SET default_null_order = 'nulls_first_on_asc_last_on_desc'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    verdicts = {}
    skipped = [n for n in sorted(oracle) if skip_n2 and n in N2_ORACLES]
    for n in skipped:
        print(f"SKIP {n} (n^2 oracle, excluded at this tier)")
    for name in sorted(n for n in oracle if n not in skipped):
        sql = oracle[name]
        try:
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        # HUGEINT guard: DuckDB SUM(BIGINT) widens to HUGEINT, which the
        # driver's typed hash distinguishes from Spark's BIGINT even when
        # every value is identical (repr-based compares can't see it —
        # the r13 corpus_diff/pca/concentration lesson). Force the
        # convention: CAST every SUM-derived output AS BIGINT.
        try:
            huge = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM ({sql})").fetchall()
                if "HUGEINT" in r[1]]
            if huge:
                print(f"FAIL {name}: HUGEINT oracle columns {huge} — "
                      f"wrap in CAST(... AS BIGINT)")
                n_fail += 1
                continue
        except Exception:
            pass
        try:
            got = duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        wc, wr = canon(wrows, wcols)
        gc, gr = canon(grows, gcols)
        if wc != gc:
            print(f"FAIL {name}: columns differ: spark={gc} oracle={wc}")
            n_fail += 1
        elif wr != gr:
            diffs = [i for i, (a, b) in enumerate(zip(wr, gr)) if a != b]
            print(f"FAIL {name}: rows differ (spark={len(gr)}, oracle={len(wr)},"
                  f" first diffs {diffs[:3]})")
            for i in diffs[:2]:
                print(f"   oracle[{i}]={wr[i]}")
                print(f"   spark [{i}]={gr[i]}")
            if len(wr) != len(gr):
                print(f"   oracle head: {wr[:2]}  spark head: {gr[:2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
            if ordered:
                v = check_order(ocon, name, sql, f"{out_dir}/{name}/*.parquet",
                                grows, gcols, wrows, wcols)
                if v:
                    verdicts.setdefault(v, []).append(name)
    skip_note = f", {len(skipped)} skipped (n^2 oracle)" if skipped else ""
    print(f"== {n_pass} pass, {n_fail} fail{skip_note} ==")
    if ordered:
        print("== order: " + ", ".join(
            f"{len(verdicts.get(v, []))} {v.lower()}"
            for v in ("ORDERED", "TIES", "UNORDERED")) + " ==")
    return 1 if n_fail or verdicts.get("UNORDERED") else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], "--skip-n2" in sys.argv[3:],
                  "--ordered" in sys.argv[3:]))
