#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify, then run
each oracle SQL in DuckDB over the same parquet tables and compare.

Usage: python3 scripts/check.py [sfDir] [outDir] [--skip-verify] [names...]

Each oracle runs under ORACLE_BUDGET_S: one that has not finished by then is
stopped and counts as a FAIL. Every oracle's time is printed, and the ten
slowest at the end.
"""
import datetime, json, math, multiprocessing, subprocess, sys, time

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Seconds one oracle may run: about 6x the slowest oracle that finishes at
# sf0.01 (llm_embed_clusters, 21 s on a 4-CPU VM; every other one under 7 s).
# llm_bpe_train's oracle does not finish: it ran until DuckDB ran out of
# memory, so without a budget a full check could hang on it.
ORACLE_BUDGET_S = 120


def oracle_worker(sf, pipe):
    """Answer each oracle SQL sent over `pipe` from one DuckDB connection."""
    con = duckdb.connect()
    # Views are RAW parquet (events.ts stays TIMESTAMP_NS) to mirror the
    # driver's oracle exactly; oracle SQL must therefore be ns-safe — never
    # output a raw ts (date_trunc/CAST first). See Tables.scala nanos note.
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    pipe.send("ready")
    while True:
        try:
            osql = pipe.recv()
        except EOFError:  # the checker has exited
            return
        try:
            pipe.send((True, con.sql(osql).df()))
        except Exception as e:
            pipe.send((False, str(e)))


class Oracles:
    """DuckDB in a worker process, so that an oracle over its budget can be
    stopped. DuckDB's own `interrupt()` does not reach every phase of a
    query: it left `llm_bpe_train`'s oracle running for 100 s after it was
    called. Killing the worker stops any phase, and a fresh one takes over.
    """

    def __init__(self, sf):
        self.sf = sf
        self.start()

    def start(self):
        ctx = multiprocessing.get_context("spawn")
        self.pipe, child = ctx.Pipe()
        self.proc = ctx.Process(target=oracle_worker, args=(self.sf, child),
                                daemon=True)
        self.proc.start()
        self.pipe.recv()

    def restart(self):
        self.proc.kill()
        self.proc.join()
        self.start()

    def run(self, osql):
        """The oracle's rows as a DataFrame. Raises RuntimeError past the
        budget, on a DuckDB error or when the worker dies."""
        self.pipe.send(osql)
        if not self.pipe.poll(ORACLE_BUDGET_S):
            self.restart()
            raise RuntimeError(f"stopped at the {ORACLE_BUDGET_S} s budget")
        try:
            ok, v = self.pipe.recv()
        except EOFError:
            self.restart()
            raise RuntimeError("oracle worker died")
        if not ok:
            raise RuntimeError(v)
        return v


def norm(v, datelike=False):
    # Full-precision repr: the local gate must be at least as strict as the
    # driver's hash gate it mirrors (round-2 ADVICE: 6-sig-digit formatting
    # hid >=1e6 drift). Queries are designed for bit-identical doubles
    # (integer ratios, DECIMAL-exact sums, matching sequential folds).
    # Both sides come through pandas (r9 ADVICE: the driver hashes pandas
    # dtypes, so DuckDB HUGEINT -> float64 must FAIL here too): unwrap numpy
    # scalars via .item() so int-vs-float dtype drift stays visible in repr.
    if hasattr(v, "isoformat"):
        # duckdb .df() promotes DATE to midnight datetime64 while pyarrow
        # keeps date32 as datetime.date — canonicalize midnight timestamps
        # to date form ONLY for columns that are date-typed on the Spark
        # side (r10 ADVICE: truncating every midnight datetime would let a
        # Spark TIMESTAMP column pass against a DuckDB DATE oracle, a
        # local-green/driver-red blind spot; the driver's dtype hash is not
        # confirmed to apply that equivalence).
        iso = v.isoformat()
        return iso[:-9] if datelike and iso.endswith("T00:00:00") else iso
    if hasattr(v, "item") and not isinstance(v, (int, float, str, bytes)):
        return norm(v.item(), datelike)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x, datelike) for x in v) + "]"
    return repr(v)


def datelike_cols(df):
    """Column names whose Spark-side pandas dtype is pure datetime.date
    (pyarrow keeps parquet date32 as object-dtype date, never datetime)."""
    names = set()
    for c in df.columns:
        if df[c].dtype == object:
            vals = [v for v in df[c] if v is not None][:5]
            if vals and all(isinstance(v, datetime.date)
                            and not isinstance(v, datetime.datetime)
                            for v in vals):
                names.add(c)
    return names


def canon(cols, rows, datelike):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i], cols[i] in datelike) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        # subset names pass through to Verify (r16): a per-change loop
        # re-runs only the touched queries' Spark dumps; oracle_sql.json
        # is always rewritten in full, so the compare loop below still
        # sees every name and skips to the requested ones
        sub = " " + " ".join(sorted(only)) if only else ""
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf} {out}{sub}'],
            capture_output=True, text=True, cwd="/root/repo",
            env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "8"})
        if r.returncode != 0:
            print(r.stdout[-4000:], r.stderr[-4000:])
            sys.exit(1)
        # sbt routes the program's stderr to ITS stdout (tagged [error]),
        # so the per-query failure reasons Verify prints would be
        # invisible if only r.stderr were scanned (found the hard way:
        # "spark output unreadable" with no cause)
        for line in (r.stderr + "\n" + r.stdout).splitlines():
            if "[verify]" in line:
                print(line)
    oracles = Oracles(sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    unknown = only - set(oracle)
    if unknown:
        print(f"FAIL: unknown query names: {sorted(unknown)}")
        sys.exit(1)
    n_ok = n_bad = 0
    times = {}
    for name, osql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            # to_pandas() on BOTH sides: the driver's comparator hashes
            # pandas dtypes, so e.g. a DuckDB HUGEINT (-> float64) against a
            # Spark BIGINT (-> int64) must mismatch locally too (r9 red).
            sdf = pq.read_table(f"{out}/{name}").to_pandas()
            s_cols = list(sdf.columns)
            s_rows = list(sdf.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_bad += 1
            continue
        t0 = time.monotonic()
        try:
            odf = oracles.run(osql)
        except RuntimeError as e:
            times[name] = time.monotonic() - t0
            print(f"FAIL {name}: oracle error after {times[name]:.1f} s: "
                  f"{str(e)[:300]}")
            n_bad += 1
            continue
        times[name] = time.monotonic() - t0
        o_cols = list(odf.columns)
        o_rows = list(odf.itertuples(index=False, name=None))
        dcols = datelike_cols(sdf)
        sc, sr = canon(s_cols, s_rows, dcols)
        oc, orows = canon(o_cols, o_rows, dcols)
        took = f"oracle {times[name]:.2f} s"
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}; {took}")
            n_bad += 1
        elif sr != orows:
            diffs = [i for i, (a, b) in enumerate(zip(sr, orows)) if a != b]
            print(f"FAIL {name}: rows spark={len(sr)} oracle={len(orows)}, "
                  f"first diffs {diffs[:3]}; {took}")
            for i in diffs[:2]:
                print(f"  spark : {sr[i]}")
                print(f"  oracle: {orows[i]}")
            if len(sr) != len(orows):
                print(f"  spark[0]={sr[0] if sr else None}")
                print(f"  oracle[0]={orows[0] if orows else None}")
            n_bad += 1
        else:
            print(f"ok   {name}: {len(sr)} rows; {took}")
            n_ok += 1
            if len(sr) == 0:
                print(f"WARN {name}: empty result set (weak check)")
    print("slowest oracles:")
    for name, t in sorted(times.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:8.2f} s  {name}")
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
