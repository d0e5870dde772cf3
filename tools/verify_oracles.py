"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema-width + order-insensitive value hash.

Usage: python tools/verify_oracles.py [sf_dir] [query ...]
       python tools/verify_oracles.py [sf_dir] --changed[=git-ref]

--changed (default ref HEAD) selects only queries plausibly affected by
files changed since the ref: queries whose registry block in
driver_queries.py has changed lines, plus queries whose function source
imports a changed engine module. DIRECT imports only (a changed module's
own imports are not chased) — the inner-loop shortcut; the full sweep at
round close remains the real gate.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(
        "\x01".join(cell(v) for v in rec) for rec in df.itertuples(index=False)
    )
    h = hashlib.md5("\x02".join(rows).encode()).hexdigest()
    return len(df), cols, h


def changed_queries(ref: str) -> set[str]:
    """Queries affected by the diff since `ref`: registry blocks with
    changed lines + queries directly importing a changed module."""
    import inspect
    import re
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    diff = subprocess.run(
        ["git", "-C", repo, "diff", "--name-only", ref, "--", "*.py"],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    changed_mods = set()
    dq_changed = False
    for f in diff:
        if f.endswith("plans/driver_queries.py"):
            dq_changed = True
        m = re.match(r"langtoolsosm_spark/(\w+)/(\w+)\.py$", f)
        if m:
            changed_mods.add(f"{m.group(1)}.{m.group(2)}")
        m = re.match(r"langtoolsosm_spark/(\w+)\.py$", f)
        if m:
            changed_mods.add(m.group(1))

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    hit: set[str] = set()

    if dq_changed:
        # map changed driver_queries.py lines -> enclosing top-level block
        # -> the next REGISTRY.update after it (conservative: a changed
        # helper/oracle selects the query registered right below it)
        dq_path = os.path.join(repo, "langtoolsosm_spark", "plans", "driver_queries.py")
        hunks = subprocess.run(
            ["git", "-C", repo, "diff", "-U0", ref, "--",
             "langtoolsosm_spark/plans/driver_queries.py"],
            capture_output=True, text=True, check=True,
        ).stdout
        changed_lines = set()
        for m in re.finditer(r"^@@ .* \+(\d+)(?:,(\d+))? @@", hunks, re.M):
            start = int(m.group(1))
            n = int(m.group(2)) if m.group(2) is not None else 1
            changed_lines.update(range(start, start + max(n, 1)))
        lines = open(dq_path).read().splitlines()
        reg_at = []  # (line_no, {names}) for each REGISTRY.update / assignment
        for i, ln in enumerate(lines, 1):
            names = set(re.findall(r'"(\w+)":', ln)) if "REGISTRY" in ln else set()
            for m in re.finditer(r'REGISTRY\.update\(\{"(\w+)"', ln):
                names.add(m.group(1))
            if names and ("REGISTRY.update" in ln or re.match(r"\s*REGISTRY\s*=", ln)):
                reg_at.append((i, names))
            elif names and "REGISTRY[" in ln:
                reg_at.append((i, names))
        for cl in changed_lines:
            nxt = [entry for entry in reg_at if entry[0] >= cl]
            if nxt:
                hit.update(n for n in nxt[0][1] if n in qs)

    if changed_mods:
        pat = re.compile(
            r"from \.\.(\w+(?:\.\w+)?) import|from langtoolsosm_spark\.(\w+(?:\.\w+)?) import"
        )
        for name, fn in qs.items():
            try:
                src = inspect.getsource(fn)
            except OSError:
                hit.add(name)
                continue
            mods = {a or b for a, b in pat.findall(src)}
            if mods & changed_mods:
                hit.add(name)
    return hit


def main():
    argv = sys.argv[1:]
    ref = None
    for a in list(argv):
        if a == "--changed" or a.startswith("--changed="):
            ref = a.partition("=")[2] or "HEAD"
            argv.remove(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if ref is not None:
        sel = changed_queries(ref)
        print(f"--changed {ref}: {len(sel)} affected queries: {sorted(sel)}")
        if not sel:
            print("nothing to verify")
            return 0
        only |= sel

    import __spark_entry__ as entry_mod
    from langtoolsosm_spark.session import get_spark

    # Tee the process's stderr (which the Spark JVM inherits) through a
    # file so dropped-hint warnings (HintErrorLogger: "Hint (strategy=
    # broadcast) is not supported ...") are detected and attributed to
    # the query that planned them. A silently dropped hint is exactly the
    # noise that would mask a real hint failure on the 100x path, so the
    # sweep FAILS on any hit (LTOSM_ALLOW_HINT_DROPS=1 downgrades to a
    # loud warning).
    import subprocess
    import tempfile

    hint_log = tempfile.NamedTemporaryFile(
        "r", suffix=".stderr", prefix="verify_hints_", delete=False
    )
    orig_stderr = os.dup(2)
    tee = subprocess.Popen(
        ["tee", hint_log.name], stdin=subprocess.PIPE, stdout=orig_stderr
    )
    os.dup2(tee.stdin.fileno(), 2)

    def hint_offset() -> int:
        sys.stderr.flush()
        return os.path.getsize(hint_log.name)

    spark = get_spark("verify_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    hint_spans: list[tuple[str, int]] = []  # (query, stderr offset at start)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        hint_spans.append((name, hint_offset()))
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {e}"
            print(f"[FAIL-spark] {name}: {e}")
            continue
        t1 = time.time()
        if name not in oracles:
            results[name] = f"rows-only: {len(sdf)} rows ({t1-t0:.1f}s)"
            print(f"[rows-only] {name}: {len(sdf)} rows  spark={t1-t0:.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"[FAIL-duckdb] {name}: {e}")
            continue
        t2 = time.time()
        sn, sc, sh = normalize(sdf)
        on, oc, oh = normalize(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "OK" if ok else "MISMATCH"
        results[name] = status
        print(
            f"[{status}] {name}: spark {sn} rows / oracle {on} rows  "
            f"cols={'=' if sc == oc else f'{sc} vs {oc}'} hash={'=' if sh == oh else 'DIFF'}  "
            f"({t1-t0:.1f}s / {t2-t1:.1f}s)"
        )
        if not ok and sn == on and sc == oc:
            # show first differing rows for debugging
            s_rows = sdf[sorted(sdf.columns)].astype(str).sort_values(sorted(sdf.columns)).reset_index(drop=True)
            o_rows = odf[sorted(odf.columns)].astype(str).sort_values(sorted(odf.columns)).reset_index(drop=True)
            diff = (s_rows != o_rows).any(axis=1)
            if diff.any():
                i = diff.idxmax()
                print("  first diff row spark :", s_rows.iloc[i].to_dict())
                print("  first diff row oracle:", o_rows.iloc[i].to_dict())

    n_ok = sum(1 for v in results.values() if v == "OK")
    n_ro = sum(1 for v in results.values() if str(v).startswith("rows-only"))
    n_bad = len(results) - n_ok - n_ro
    print(f"\n== {n_ok} OK, {n_ro} rows-only, {n_bad} failing of {len(results)}")

    # plan-hygiene gate: attribute any dropped-hint warning to the query
    # whose span of the teed stderr contains it
    hint_spans.append(("<end>", hint_offset()))
    blamed: dict[str, int] = {}
    with open(hint_log.name) as f:
        text = f.read()
    for (name, lo), (_nxt, hi) in zip(hint_spans, hint_spans[1:]):
        n_hits = text[lo:hi].count("HintErrorLogger")
        if n_hits:
            blamed[name] = n_hits
    os.unlink(hint_log.name)
    if blamed:
        msg = ", ".join(f"{k} ({v})" for k, v in sorted(blamed.items()))
        print(f"\n!! dropped join hints (HintErrorLogger) during: {msg}")
        if os.environ.get("LTOSM_ALLOW_HINT_DROPS") != "1":
            print("!! failing the sweep (set LTOSM_ALLOW_HINT_DROPS=1 to downgrade)")
            return 2
    return 0 if n_bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
