#!/usr/bin/env python3
"""Benchmark of the CDC lake and the LLM-data plane.

    python3 perfbench/run.py --workload <cdc_backfill|llm_curation>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness under perfbench/ (sbt, offline), makes
the workload's inputs from the seed, runs it in one JVM, checks every output
against a computation made apart from the program (DuckDB SQL and a fold
written here), and prints one JSON line: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1).

With --self-test it runs, then drops one row from each checked output and
shows that every check fails on it.

setup_s runs from the start of this process to the start of measurement,
less the build and the making of the LLM corpus: neither is the program's
work.
"""
import time

T_START = time.time()

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM = ROOT / "src" / "main" / "scala" / "graft"
TARGET = HERE / "target"
WORK = HERE / "work"

WORKLOADS = ("cdc_backfill", "llm_curation")
CPUS = len(os.sched_getaffinity(0))  # Spark cores: every usable core, as nproc counts them

# Every metric, its unit and kind, as BENCHMARK.json at the checkout's root
# lists them: a run prints all end-to-end metrics (untraced) or all per-layer
# metrics (traced), the latter 0 for a layer its workload does not run.
MANIFEST = ROOT / "BENCHMARK.json"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha256()
    files = sorted(ROOT.glob("src/main/scala/**/*.scala")) + sorted(HERE.glob("src/**/*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; return the classpath."""
    if not PROGRAM.is_dir():
        die(f"the program's sources ({PROGRAM.relative_to(ROOT)}) are not here")
    stamp = _stamp()
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    TARGET.mkdir(parents=True, exist_ok=True)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    (TARGET / "build.log").write_text(r.stdout + r.stderr)
    cps = [l.strip() for l in r.stdout.splitlines()
           if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        die(f"build failed, see {TARGET / 'build.log'}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def java_opts(work):
    """The JVM options build.sbt gives forked runs, plus local dirs in the checkout."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        gb = 8
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        gb = int(line.split()[1]) // (1024 * 1024)
        except OSError:
            pass
        mem = "24g" if gb >= 64 else "8g" if gb >= 16 else "4g"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opts + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{mem}",
        # no hsperfdata file outside the checkout
        "-XX:-UsePerfData",
        f"-XX:ReservedCodeCacheSize={os.environ.get('SPARK_GRAFT_CODE_CACHE', '512m')}",
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
    ]


def run_jvm(cp, work, args, budget_s):
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = [java] + java_opts(work) + ["-cp", cp, "perfbench.Main", "--work", str(work)] + args
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               timeout=max(budget_s, 10))
        except subprocess.TimeoutExpired:
            die(f"run exceeded {budget_s:.0f} s, see {work / 'jvm.log'}", 1)
    if r.returncode != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        die(f"run failed (exit {r.returncode}), see {work / 'jvm.log'}", 1)
    return json.loads((work / "result.json").read_text())


# ------------------------------------------------------------- LLM corpus

VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()


def make_corpus(seed, out, n_docs=1000, n_vecs=1000, dim=64):
    """Documents of 10–89 words from a 30-word vocabulary, 5% of them an
    earlier document plus " dup", and unit-norm Gaussian embeddings with ten
    labels: the shape of the repository's test corpus, made from the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 90)))))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], size=n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs).tolist(), pa.int32()),
    })
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, out / "documents.parquet")
    pq.write_table(embs, out / "embeddings.parquet")


# ------------------------------------------------------------------ checks

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


class Checks:
    """Each check compares the rows of the program's output (a query) with
    rows computed apart from the program (another query) as multisets, in
    DuckDB. Values are first brought to one spelling per value, whichever
    engine wrote them: stamps as epoch microseconds, decimals and floats as
    doubles, integers as BIGINT. `perturbed` replays every check with one
    output row dropped, and each must then fail."""

    def __init__(self, con):
        self.con = con
        self.items = []  # (name, got_sql, want_sql)

    def add(self, name, got, want):
        self.items.append((name, got, want))

    def canon(self, sql):
        types = [str(t).upper() for t in self.con.sql(sql).types]
        exprs = []
        for i, t in enumerate(types):
            c = f"c{i}"
            if t.startswith("TIMESTAMP"):
                c = f"epoch_us({c})"
            elif t.startswith("DECIMAL") or t in ("FLOAT", "DOUBLE"):
                c = f"CAST({c} AS DOUBLE)"
            elif t in INT_TYPES:
                c = f"CAST({c} AS BIGINT)"
            elif t == "DATE":
                c = f"CAST({c} AS VARCHAR)"
            exprs.append(f"{c} AS c{i}")
        names = ", ".join(f"c{i}" for i in range(len(types)))
        return f"SELECT {', '.join(exprs)} FROM ({sql}) AS t({names})"

    def diff(self, got, want):
        """(rows got, rows expected, rows only in got, rows only expected)."""
        try:
            g, w = self.canon(got), self.canon(want)
            return self.con.sql(f"""SELECT (SELECT count(*) FROM ({g})), (SELECT count(*) FROM ({w})),
                (SELECT count(*) FROM (({g}) EXCEPT ALL ({w}))),
                (SELECT count(*) FROM (({w}) EXCEPT ALL ({g})))""").fetchone()
        except Exception as e:  # differing shapes or types count as a difference
            return (-1, -1, 1, 1, str(e).splitlines()[0])

    def run(self):
        """Failures, and the expected row count of every check."""
        bad, counts = [], {}
        for name, got, want in self.items:
            d = self.diff(got, want)
            counts[name] = d[1]
            if d[2] or d[3]:
                bad.append(f"{name}: {d[0]} rows, expected {d[1]}; {d[2]} unexpected, {d[3]} missing"
                           + (f" ({d[4]})" if len(d) > 4 else ""))
        return bad, counts

    def perturbed(self):
        report = []
        for name, got, want in self.items:
            d = self.diff(f"SELECT * FROM ({got}) OFFSET 1", want)
            report.append((name, bool(d[2] or d[3])))
        return report


def n_rows(n):
    """A count as a multiset of n rows, so a count check is a row check too."""
    return f"SELECT range FROM range({int(n)})"


def lines_in(paths):
    n = 0
    for p in paths:
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def fold_freeze(ordered):
    """C3 as an in-order fold: CREDIT adds, a DEBIT above the balance is
    rejected and freezes the account 24 h from its stamp, anything inside a
    freeze is flagged and not applied."""
    out, cur, bal, frozen = [], None, 0, 0
    for user, ts_us, typ, cents in ordered:
        if user != cur:
            cur, bal, frozen = user, 0, 0
        t_ms = ts_us // 1000
        if t_ms < frozen:
            out.append((user, ts_us, "flagged", bal, cents))
        elif typ == "CREDIT":
            bal += cents
        elif typ == "DEBIT":
            if cents > bal:
                out.append((user, ts_us, "freeze", bal, cents))
                frozen = t_ms + 24 * 3600 * 1000
            else:
                bal -= cents
    return out


ACT = "user_id, city, transaction_type, monetary_value, timeinapp, feature_used, ts"

NEWEST = f"""SELECT {ACT} FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn FROM input)
WHERE rn = 1 AND op <> 'delete'"""

C1 = """SELECT a.user_id, a.city, a.ts, b.city, b.ts FROM input a JOIN input b
  ON a.user_id = b.user_id AND a.city <> b.city
 AND (b.ts > a.ts OR (b.ts = a.ts AND a.city < b.city))
 AND b.ts <= a.ts + INTERVAL 1 HOUR"""

RULES_SQL = {
    "c1": C1,
    "c2": """SELECT user_id, prev_ts, prev_len, ts FROM (
        SELECT user_id, ts, lag(ts) OVER w AS prev_ts, lag(timeinapp) OVER w AS prev_len
        FROM input WINDOW w AS (PARTITION BY user_id ORDER BY ts))
      WHERE prev_ts IS NOT NULL AND prev_ts + prev_len * INTERVAL 1 SECOND > ts""",
    "c3_violations": """SELECT user_id, ts, cents FROM (
        SELECT user_id, ts, transaction_type, CAST(monetary_value * 100 AS BIGINT) AS cents,
          sum(CASE transaction_type WHEN 'CREDIT' THEN CAST(monetary_value * 100 AS BIGINT)
                                    WHEN 'DEBIT' THEN -CAST(monetary_value * 100 AS BIGINT)
                                    ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS bal
        FROM input) WHERE transaction_type = 'DEBIT' AND bal < 0""",
    "c3_flagged": """WITH v AS (SELECT user_id, ts AS viol_ts FROM (
        SELECT user_id, ts, transaction_type,
          sum(CASE transaction_type WHEN 'CREDIT' THEN CAST(monetary_value * 100 AS BIGINT)
                                    WHEN 'DEBIT' THEN -CAST(monetary_value * 100 AS BIGINT)
                                    ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS bal
        FROM input) WHERE transaction_type = 'DEBIT' AND bal < 0)
      SELECT a.user_id, a.ts, v.viol_ts, a.feature_used FROM input a JOIN v USING (user_id)
      WHERE a.ts > v.viol_ts AND a.ts <= v.viol_ts + INTERVAL 24 HOUR""",
    "c4": """SELECT user_id, min(ts) FROM input WHERE feature_used = 'FOREX' GROUP BY user_id""",
    "c5": """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM input
        WHERE feature_used = 'UPITRANSACTION' GROUP BY 1, 2 HAVING max(monetary_value) >= 9000),
      l AS (SELECT user_id, d, lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2
        FROM d WINDOW w AS (PARTITION BY user_id ORDER BY d))
      SELECT user_id, d FROM l WHERE d2 IS NOT NULL AND d - d1 = 1 AND d1 - d2 = 1""",
    "p1": """SELECT user_id, count(*) FROM input WHERE feature_used = 'ENQUIRY'
      GROUP BY user_id HAVING count(*) >= 3""",
    "p2": """SELECT user_id, count(DISTINCT date_trunc('month', ts)) FROM input
      WHERE feature_used = 'FOREX' GROUP BY user_id
      HAVING count(DISTINCT date_trunc('month', ts)) >= 3""",
    "p3": """SELECT user_id, count(DISTINCT date_trunc('month', ts)),
        CAST(CAST(sum(monetary_value) AS VARCHAR) AS DOUBLE) FROM input
      WHERE feature_used = 'MF-INVEST' GROUP BY user_id
      HAVING count(DISTINCT date_trunc('month', ts)) >= 3 AND sum(monetary_value) >= 20000""",
    "p4": """SELECT user_id, CAST(CAST(sum(monetary_value) AS VARCHAR) AS DOUBLE) AS t FROM input
      WHERE feature_used = 'CAPITALMARKET-INVEST' GROUP BY user_id
      ORDER BY t DESC, user_id LIMIT 10""",
    "p5": """SELECT user_id, count(DISTINCT date_trunc('month', ts)) FROM input
      WHERE feature_used = 'PENSIONFUND-INVEST' GROUP BY user_id
      HAVING count(DISTINCT date_trunc('month', ts)) >= 3
      AND user_id NOT IN (SELECT user_id FROM input
        WHERE feature_used IN ('MF-INVEST', 'CAPITALMARKET-INVEST', 'FD-INVEST'))""",
}

# column order of each rule's Spark output, as the oracle above lists them
RULES_COLS = {
    "c1": "user_id, city_a, ts_a, city_b, ts_b", "c2": "user_id, prev_ts, prev_len, ts",
    "c3_violations": "user_id, viol_ts, attempted", "c3_flagged": "user_id, ts, viol_ts, feature_used",
    "c4": "user_id, first_forex_ts", "c5": "user_id, third_day", "p1": "user_id, n_enquiries",
    "p2": "user_id, active_months", "p3": "user_id, active_months, total_value",
    "p4": "user_id, total_invested", "p5": "user_id, active_months",
}


def pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def alarms_csv(path, columns):
    cols = ", ".join(f"'{n}': '{t}'" for n, t in columns)
    return f"SELECT * EXCLUDE (batch) FROM read_csv('{path}', header = false, columns = {{{cols}}})"


def duck(work):
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    return con


def cdc_checks(work, facts):
    import pandas as pd
    con = duck(work)
    con.sql(f"CREATE VIEW input AS SELECT * FROM {pq(work / 'input')}")
    dup = con.sql("SELECT count(*) FROM (SELECT user_id, ts FROM input GROUP BY 1, 2 HAVING count(*) > 1)").fetchone()[0]
    if dup:
        die(f"benchmark input has {dup} repeated (user_id, ts) stamps")
    out = work / "out"
    ck = Checks(con)
    ck.add("latest_state", f"SELECT {ACT} FROM {pq(out / 'state_read')}", NEWEST)

    written = lines_in(glob.glob(str(work / "drop" / "*")))
    landed = lines_in(glob.glob(str(out / "bronze" / "**" / "part-*"), recursive=True))
    dead = lines_in(glob.glob(str(out / "deadletter" / "part-*")))
    foreign = facts["foreign_rejected"]
    ck.add("conservation", n_rows(landed + dead + foreign), n_rows(written))
    ck.add("dead_letters", n_rows(dead), n_rows(facts["injected_malformed"]))
    ck.add("foreign_rejected", n_rows(foreign), n_rows(facts["injected_foreign"]))
    bronze_json = out / "bronze" / "**" / "part-*.json"
    ck.add("bronze_rows", f"""SELECT user_id, CAST(ts AS TIMESTAMPTZ), operation
        FROM read_json('{bronze_json}', format = 'newline_delimited', hive_partitioning = false,
                       columns = {{'user_id': 'INTEGER', 'ts': 'VARCHAR', 'operation': 'VARCHAR'}})""",
           "SELECT user_id, ts, op FROM input")

    ordered = con.sql("""SELECT user_id, epoch_us(ts), transaction_type,
        CAST(monetary_value * 100 AS BIGINT) FROM input ORDER BY user_id, ts, feature_used""").fetchall()
    fold = pd.DataFrame(fold_freeze(ordered), columns=["user_id", "ts_us", "kind", "balance", "attempted"])
    con.register("c3_fold", fold)
    ck.add("c3_stream", alarms_csv(out / "alarms_freeze.csv", [
        ("batch", "BIGINT"), ("user_id", "BIGINT"), ("ts_us", "BIGINT"), ("kind", "VARCHAR"),
        ("balance", "BIGINT"), ("attempted", "BIGINT")]), "SELECT * FROM c3_fold")
    ck.add("c1_stream", alarms_csv(out / "alarms_cityhop.csv", [
        ("batch", "BIGINT"), ("user_id", "BIGINT"), ("city_a", "VARCHAR"), ("ts_a", "BIGINT"),
        ("city_b", "VARCHAR"), ("ts_b", "BIGINT")]),
           f"SELECT user_id, city_a, epoch_us(ts_a), city_b, epoch_us(ts_b) FROM ({C1}) AS t(user_id, city_a, ts_a, city_b, ts_b)")

    ck.add("silver_rows", f"SELECT user_id, ts FROM {pq(out / 'silver')}", "SELECT user_id, ts FROM input")
    ck.add("latest_batch", f"SELECT {ACT} FROM {pq(out / 'latest_batch')}", NEWEST)
    for name, sql in RULES_SQL.items():
        ck.add(f"rule_{name}", f"SELECT {RULES_COLS[name]} FROM {pq(out / 'rules' / name)}", sql)
    return ck


def _str_rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), [tuple(r) for r in df.astype(str).values.tolist()]


def llm_checks(work, corpus):
    import pandas as pd
    con = duck(work)
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    sqls = json.loads((work / "oracle_sql.json").read_text())
    ck = Checks(con)
    for q, sql in sqls.items():
        if sql is None:
            die(f"{q} has no oracle SQL")
        files = sorted(glob.glob(str(work / "out" / q / "*.parquet")))
        gcols, grows = _str_rows(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        wcols, wrows = _str_rows(con.sql(sql).df())
        # outputs are ordered, so a row's position is part of its value
        for side, cols, rs in (("got", gcols, grows), ("want", wcols, wrows)):
            df = pd.DataFrame([(i, "\x1f".join(cols), "\x1f".join(r)) for i, r in enumerate(rs)],
                              columns=["pos", "cols", "vals"]).astype({"pos": "int64", "cols": str, "vals": str})
            con.register(f"{side}_{q}", df)
        ck.add(q, f"SELECT * FROM got_{q}", f"SELECT * FROM want_{q}")
    return ck


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.workload:
        die("--workload is required")

    first_build = not (TARGET / "classpath.txt").exists()
    t_build = time.time()
    cp = build()
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "llm_curation":
        corpus = work / "corpus"
        make_corpus(a.seed, corpus)
        args += ["--corpus", str(corpus)]
    budget = (880 if first_build else 175) - (time.time() - T_START)
    t_jvm = time.time()
    res = run_jvm(cp, work, args, budget)
    t_end = time.time()

    ck = llm_checks(work, work / "corpus") if a.workload == "llm_curation" \
        else cdc_checks(work, res["facts"])
    bad, counts = ck.run()
    for b in bad:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    print(f"perfbench: {len(ck.items) - len(bad)}/{len(ck.items)} checks pass; facts {res['facts']}",
          file=sys.stderr)
    print("perfbench: rows per check " + ", ".join(f"{n} {c}" for n, c in counts.items()), file=sys.stderr)
    print(f"perfbench: jvm start {t_jvm - T_START:.1f} s, set-up end {res['setup_end_ms'] / 1e3 - T_START:.1f} s, "
          f"jvm end {t_end - T_START:.1f} s, checks end {time.time() - T_START:.1f} s", file=sys.stderr)

    if a.self_test:
        report = ck.perturbed()
        for name, failed in report:
            print(f"self-test {name}: {'fails when one row is dropped' if failed else 'DID NOT FAIL'}",
                  file=sys.stderr)
        ok = not bad and all(f for _, f in report)
        print(f"self-test: {'every check fails on a perturbed output' if ok else 'FAILED'}", file=sys.stderr)
        sys.exit(0 if ok else 1)

    manifest = json.loads(MANIFEST.read_text())
    if a.trace:
        declared, values = manifest["per_layer"], res["layer"]
    else:
        # the build, the work directory's reset and the corpus (t_build to
        # t_jvm) are the benchmark's work, not the program's
        setup_s = (t_build - T_START) + (res["setup_end_ms"] / 1000.0 - t_jvm)
        declared, values = manifest["end_to_end"], dict(res["e2e"], setup_s=setup_s)
    names = {m["name"] for m in declared}
    if set(values) - names or (not a.trace and names - set(values)):
        die(f"metrics reported {sorted(values)} do not match {MANIFEST.name} {sorted(names)}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        die(f"a metric is not a finite number: {metrics}")
    print(json.dumps({"correct": not bad, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
