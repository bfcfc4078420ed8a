#!/usr/bin/env python3
"""Local stand-in for the driver's duckdb correctness gate.

Runs each oracle_sql.json query in duckdb against the sf tables,
loads the Spark parquet result, sorts columns by name and rows by all
columns, and compares values exactly (doubles bitwise via repr).
Usage: compare_oracle.py <sfdir> <verify_outdir>
"""
import json, sys, glob, os, subprocess
import duckdb
import pandas as pd

# --oracle-child <sfdir> <sqlfile> <out> <err>: run ONE oracle in this
# fresh process and exit. Subprocess (exec) instead of
# multiprocessing/fork: a forked child shares the parent's duckdb
# instance pages, so a kill() mid-query can leave inherited state in
# arbitrary shape, while an exec'd child owns everything it touches.
# (The first sf10 sweep's every-compare-FAILs was a different bug —
# duckdb 1.0 relations don't keep their connection alive, see the GC
# note below — but it was found chasing this path, and the exec child
# is the shape that made it reproducible.)
_CHILD_MODE = len(sys.argv) > 1 and sys.argv[1] == "--oracle-child"
if _CHILD_MODE:
    sfdir, outdir = sys.argv[2], None
else:
    sfdir, outdir = sys.argv[1], sys.argv[2]
# optional per-oracle timeout (seconds) for scale runs: some oracles are
# deliberately brute-force (q_fuzzy_join's is the O(n^2) crossJoin the
# engine's blocking avoids) and bottleneck on the DuckDB side at 10x+
# scale-ups; a timeout records "oracle too slow at this sf" instead of
# hanging the whole compare. Driver behavior (no 3rd arg) is unchanged.
timeout_s = (float(sys.argv[3])
             if not _CHILD_MODE and len(sys.argv) > 3 else None)

def fresh_con():
    c = duckdb.connect()
    # bounded resources for scale runs (brute-force oracles at 10x+ can
    # otherwise abort the process on thread-local allocation); both knobs
    # are no-ops for the driver's small-sf runs
    mem = os.environ.get("COMPARE_MEM", "24GB")
    thr = os.environ.get("COMPARE_THREADS", "8")
    c.sql(f"SET memory_limit='{mem}'")
    c.sql(f"SET threads={thr}")
    # PER-PROCESS spill directory (r14): an in-memory duckdb spills to
    # the cwd-relative ".tmp" by default, so PARALLEL compare workers
    # sharing a cwd collide on each other's temp files — observed as
    # SIGSEGV/SIGABRT children and "Could not read enough bytes from
    # .tmp/duckdb_temp_storage-*.tmp" in the r14 split sweep
    tmpd = os.environ.get("COMPARE_TMPDIR")
    if not tmpd:
        # auto-created => auto-removed at exit (r14 advisory: these
        # accumulated in /tmp across sweep runs — the same leak class
        # the per-process dir was added to fix). An explicitly-set
        # COMPARE_TMPDIR is caller-owned and left alone.
        tmpd = f"/tmp/duckspill_{os.getpid()}"
        import atexit, shutil
        atexit.register(shutil.rmtree, tmpd, ignore_errors=True)
    os.makedirs(tmpd, exist_ok=True)
    c.sql(f"SET temp_directory='{tmpd}'")
    # SAMPLED-ORACLE mode (r10): COMPARE_TBL_SAMPLE mirrors the engine's
    # SPARK_GRAFT_TBL_SAMPLE — "documents:doc_id:20,customer:c_custkey:40"
    # restricts each named table's view to the same seeded md5 sub-corpus
    # the engine ran on, so brute-force oracles (pairwise, recursive
    # closures) fit the timeout budget at sf1+ as measured hash compares.
    sample = {}
    for spec in filter(None, os.environ.get("COMPARE_TBL_SAMPLE", "").split(",")):
        t, idcol, thr = spec.split(":")
        sample[t] = (idcol, thr)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        # driver testdata ships single files; scale-up dirs (ScaleGen)
        # are multi-file parquet directories — glob those
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        where = ""
        if t in sample:
            idcol, thr = sample[t]
            where = (f" WHERE substring(md5('vsample:' || {idcol}), 1, 2)"
                     f" < '{thr}'")
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'{where}")
    return c

if _CHILD_MODE:
    # child: compute one oracle, write parquet (or the error), exit.
    # The connection must be HELD in a local: duckdb 1.0 relations do
    # not keep their connection alive, so `fresh_con().sql(...).df()`
    # GCs the temporary connection after .sql() returns and .df() dies
    # with "Connection has already been closed" — the bug that turned
    # the first sf10 sweep's every compare into a silent FAIL.
    sqlfile, out_path, err_path = sys.argv[3], sys.argv[4], sys.argv[5]
    try:
        _c = fresh_con()
        _sql = open(sqlfile).read()
        if os.environ.get("COMPARE_CHECKSUM_CHILD"):
            # CHECKSUM mode (r16): never materialize the oracle result —
            # one streaming pass computes (row count, commutative hash
            # sum) and writes a 1-row parquet. sum(hash(...)) is
            # order-invariant (the E68 table-checksum design) and runs
            # in constant memory, where the EXCEPT ALL big-result path
            # sorts both 180M-row sides and spills past this host's
            # disk. Columns are VARCHAR-canonicalized (shortest-repr,
            # same strictness family as the pandas repr() path) and
            # name-sorted, mirroring the engine-side expression exactly;
            # the hugeint sum rides as VARCHAR (pandas has no int128).
            _cols = sorted(r[0] for r in _c.sql(f"DESCRIBE {_sql}").fetchall())
            _proj = ", ".join(f'CAST("{x}" AS VARCHAR)' for x in _cols)
            _colstr = "|".join(_cols)
            _c.sql(
                f"SELECT CAST(count(*) AS BIGINT) AS n, "
                f"CAST(sum(hash({_proj})) AS VARCHAR) AS chk, "
                f"'{_colstr}' AS cols FROM ({_sql}) _t").df().to_parquet(out_path)
        else:
            _c.sql(_sql).df().to_parquet(out_path)
    except Exception as e:
        with open(err_path, "w") as f:
            f.write(f"{type(e).__name__}: {e}")
        sys.exit(3)
    sys.exit(0)

con = fresh_con()


def _run_oracle_child(sql, out_path, err_path, timeout_s, checksum=False):
    """Run one oracle in a fresh SUBPROCESS (timeout mode): hard
    isolation — kill() reclaims a wedged query's CPU/memory outright, no
    interrupt state can leak into later queries (the r9 sf1 sweep saw a
    best-effort thread interrupt surface as a spurious 'Interrupted!'
    failure on the NEXT, trivially fast oracle), and no fork ever
    happens in the duckdb-loaded parent (see the --oracle-child note).
    Returns True iff the child was killed on timeout."""
    sqlfile = out_path + ".sql"
    with open(sqlfile, "w") as f:
        f.write(sql)
    env = dict(os.environ)
    if checksum:
        env["COMPARE_CHECKSUM_CHILD"] = "1"
    else:
        env.pop("COMPARE_CHECKSUM_CHILD", None)
    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--oracle-child",
         sfdir, sqlfile, out_path, err_path],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env)
    try:
        return (False, p.wait(timeout_s))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait(10)
        return (True, None)
    finally:
        os.remove(sqlfile)
        # a killed child never runs its atexit spill-dir cleanup; the
        # parent knows the pid, so reap the dir here (no-op when the
        # child exited cleanly or ran under a caller-owned tmpdir)
        if not os.environ.get("COMPARE_TMPDIR"):
            import shutil
            shutil.rmtree(f"/tmp/duckspill_{p.pid}", ignore_errors=True)


oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
# resume support for long scale runs: names already PASSed in a prior
# log (COMPARE_RESUME_LOG) are skipped
resume_ok = set()
rlog = os.environ.get("COMPARE_RESUME_LOG")
if rlog and os.path.isfile(rlog):
    for line in open(rlog):
        if line.startswith("PASS "):
            resume_ok.add(line.split()[1])

oracle_timeouts = []

# CHECKSUM-mode queries (r16): COMPARE_CHECKSUM="q_unpivot,..." —
# comparator-bound rows (result too big to sort/EXCEPT on this disk,
# oracle itself cheap) verify as full-result commutative checksums
# instead of table-sampled sub-corpora. Only honored in timeout mode
# (scale sweeps); the small-sf gate keeps exact row-level compares.
checksum_queries = set(filter(None,
    os.environ.get("COMPARE_CHECKSUM", "").split(",")))


def _fail(name, why):
    """Record a failure AND print it live (flush): the first sf10 sweep
    ran 20 minutes of silent failures because fails only printed at the
    end — the FAILING prefix is deliberately distinct from the final
    FAIL lines record-builders parse, so nothing double-counts."""
    fails.append((name, why))
    print(f"FAILING {name}: {why[:200]}", flush=True)

passes = []
rows_only_passes = []


def _pass(name, detail):
    """Record a pass and print its PASS line."""
    passes.append(name)
    print(f"PASS {name} ({detail})", flush=True)

nodump = []
for name, sql in sorted(oracle.items()):
    if name in resume_ok:
        _pass(name, "resumed from prior log")
        continue
    # Verify now always writes the FULL oracle map (so a restricted
    # re-dump can't demote sibling queries to rows-only checks); an
    # oracle entry with no dump is either a deliberately restricted
    # local run (ignore the NODUMP lines) or a Verify-side crash in a
    # full sweep (the sweep builder counts NODUMP as failure).
    if not os.path.exists(f"{outdir}/{name}"):
        print(f"NODUMP {name} (no engine dump)", flush=True)
        nodump.append(name)
        continue
    try:
        if timeout_s is not None:
            # each timed oracle runs in its own fresh SUBPROCESS (see
            # _run_oracle_child): kill() on expiry reclaims the work,
            # and nothing — connection state, interrupts, allocator
            # damage — survives into the next query
            import tempfile
            tmp = tempfile.mktemp(prefix=f"oracle_{name}_", suffix=".parquet")
            errf = tmp + ".err"
            chk_mode = name in checksum_queries
            timed_out, exitcode = _run_oracle_child(
                sql, tmp, errf, timeout_s, checksum=chk_mode)
            if timed_out:
                oracle_timeouts.append(name)
                # the killed child may have left a partially written
                # parquet (and in principle an err file) at the mktemp
                # path — remove both or corpus-scale oracle outputs
                # accumulate in /tmp across sweep runs
                for p in (tmp, errf):
                    if os.path.exists(p):
                        os.remove(p)
                print(f"SKIP {name} (oracle exceeded {timeout_s:.0f}s in DuckDB)", flush=True)
                continue
            if os.path.exists(errf):
                msg = open(errf).read()
                os.remove(errf)
                raise RuntimeError(f"oracle subprocess: {msg}")
            if exitcode != 0 or not os.path.exists(tmp):
                raise RuntimeError(f"oracle subprocess died (exit {exitcode})")
            # CORPUS-SIZED RESULTS (r13): the pandas canonicalization
            # below builds one python string per CELL — q_unpivot's 240M
            # rows at sf10 cost ~100 GB RSS and got the parent
            # OOM-killed (silently, because the sweep's tee masked the
            # exit). Above COMPARE_BIG_ROWS the compare runs in DuckDB
            # instead: row counts + EXCEPT ALL in both directions, which
            # is exact on values AND multiplicities and spills under the
            # memory_limit instead of dying.
            big = int(os.environ.get("COMPARE_BIG_ROWS", "5000000"))
            got_path = f"{outdir}/{name}"
            gp = f"{got_path}/*.parquet" if os.path.isdir(got_path) else got_path
            # hold the connection (see the --oracle-child GC note)
            cc = fresh_con()
            if chk_mode:
                # FULL-RESULT commutative checksum (r16, the E68
                # machinery on both engines): the child wrote a 1-row
                # (n, chk, cols) frame from one streaming pass over the
                # oracle query; compute the IDENTICAL expression over
                # the engine's dumped parquet and compare scalars —
                # order-invariant, constant memory, no 2×180M-row
                # EXCEPT ALL sort spill
                want = pd.read_parquet(tmp)
                os.remove(tmp)
                ecols = sorted(r[0] for r in cc.sql(
                    f"DESCRIBE SELECT * FROM read_parquet('{gp}')").fetchall())
                wcols = want["cols"][0].split("|")
                if ecols != wcols:
                    _fail(name, f"columns {ecols} != {wcols}")
                    continue
                eproj = ", ".join(f'CAST("{x}" AS VARCHAR)' for x in ecols)
                en, echk = cc.sql(
                    f"SELECT CAST(count(*) AS BIGINT), "
                    f"CAST(sum(hash({eproj})) AS VARCHAR) "
                    f"FROM read_parquet('{gp}')").fetchone()
                wn, wchk = int(want["n"][0]), want["chk"][0]
                if en != wn:
                    _fail(name, f"rows {en} != {wn}")
                elif echk != wchk:
                    _fail(name, f"commutative checksum mismatch over {en} rows "
                                f"({echk} != {wchk})")
                else:
                    _pass(name, f"{en} rows, full-result commutative checksum")
                continue
            nw, ng = [cc.sql(
                f"SELECT count(*) FROM read_parquet('{q}')").fetchone()[0]
                for q in (tmp, gp)]
            if max(nw, ng) > big:
                if nw != ng:
                    _fail(name, f"rows {ng} != {nw}")
                    os.remove(tmp)
                    continue
                c = fresh_con()
                # EXCEPT ALL is positional — project name-sorted columns
                # on both sides (the pandas path sorts columns the same
                # way before comparing)
                def cols(src):
                    return [r[0] for r in c.sql(
                        f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
                cw_names, cg_names = sorted(cols(tmp)), sorted(cols(gp))
                if cw_names != cg_names:
                    _fail(name, f"columns {cg_names} != {cw_names}")
                    os.remove(tmp)
                    continue
                proj = ", ".join(f'"{x}"' for x in cg_names)
                d1 = c.sql(f"SELECT count(*) FROM (SELECT {proj} FROM read_parquet('{gp}')"
                           f" EXCEPT ALL SELECT {proj} FROM read_parquet('{tmp}'))").fetchone()[0]
                d2 = c.sql(f"SELECT count(*) FROM (SELECT {proj} FROM read_parquet('{tmp}')"
                           f" EXCEPT ALL SELECT {proj} FROM read_parquet('{gp}'))").fetchone()[0]
                os.remove(tmp)
                if d1 or d2:
                    _fail(name, f"value mismatch (duckdb EXCEPT ALL): "
                                        f"{d1} rows only in engine, {d2} only in oracle")
                else:
                    _pass(name, f"{ng} rows, duckdb-side compare")
                continue
            want = pd.read_parquet(tmp)
            os.remove(tmp)
        else:
            want = con.sql(sql).df()
        got = pd.read_parquet(f"{outdir}/{name}")
        want = want[sorted(want.columns)]
        got = got[sorted(got.columns)]
        if list(want.columns) != list(got.columns):
            _fail(name, f"columns {list(got.columns)} != {list(want.columns)}")
            continue
        if len(want) != len(got):
            _fail(name, f"rows {len(got)} != {len(want)}")
            continue
        def canon(df):
            out = df.copy()
            for c in out.columns:
                out[c] = out[c].map(lambda v: repr(v))
            return out.sort_values(by=list(out.columns)).reset_index(drop=True)
        cw, cg = canon(want), canon(got)
        if not cw.equals(cg):
            diff = (cw != cg).any(axis=1)
            idx = diff[diff].index[:3]
            detail = "; ".join(
                f"row{i}: got {cg.loc[i].to_dict()} want {cw.loc[i].to_dict()}" for i in idx)
            _fail(name, f"value mismatch: {detail}")
        else:
            _pass(name, f"{len(got)} rows")
    except Exception as e:
        _fail(name, f"error: {e}")

rows_only = sorted(set(
    os.path.basename(p) for p in glob.glob(f"{outdir}/q_*")) - set(oracle))
for name in rows_only:
    n = len(pd.read_parquet(f"{outdir}/{name}"))
    if n > 0:
        _pass(name, f"rows-only: {n} rows")
        rows_only_passes.append(name)
    else:  # _fail prints the live FAILING line; the canonical FAIL
        _fail(name, "rows-only check: 0 rows")  # line prints at the end

print()
if oracle_timeouts:
    print(f"SKIPPED (oracle-side timeout, {len(oracle_timeouts)}): "
          + " ".join(oracle_timeouts))
for name, why in fails:
    print(f"FAIL {name}: {why[:400]}")
# machine-readable summary so scale-run callers can't mistake a
# mostly-skipped compare for full coverage
# counted from the outcomes: n_pass is every PASS line, n_rows_only the
# passes that were only a rows-nonzero check (no oracle to hash-match)
summary = {"n_pass": len(passes),
           "n_rows_only": len(rows_only_passes),
           "n_fail": len(fails),
           "n_oracle_timeouts": len(oracle_timeouts),
           "oracle_timeouts": oracle_timeouts,
           "n_not_dumped": len(nodump)}
if os.environ.get("COMPARE_TBL_SAMPLE"):
    summary["tbl_sample"] = os.environ["COMPARE_TBL_SAMPLE"]
print(json.dumps(summary))
# exit codes: 0 = full pass, 1 = failures, 2 = no failures but partial
# coverage (oracle timeouts OR never-dumped queries) — callers checking
# only the exit status must acknowledge the skips. NODUMP counts as
# partial coverage here because a Verify-side crash leaves the oracle
# entry dump-less and Verify itself keeps going; an exit-0 would let a
# crashed full sweep read as green (r13 ADVICE).
sys.exit(1 if fails else (2 if (oracle_timeouts or nodump) else 0))
