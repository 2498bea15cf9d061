"""Local replica of the driver's correctness gate.

Runs every entry in ``queries()`` on Spark and its ``oracle_sql()`` twin
on DuckDB over the same sf dir, then compares row count, column names,
and an order-insensitive value hash (values stringified with float
normalization). Usage:

    python tools/validate_oracle.py [--vanilla] [--corpus NAME] [sf_dir] [query ...]

--vanilla runs the Spark side on a driver-identical plain session
(ANSI on, no engine confs) instead of session.get_spark — the
strictest local replica of the external gate.

--corpus NAME makes the adversarial-input audits a standing gate
instead of a hand-run one-off (r14 VERDICT item 6): the named
generator is (re)run from the given sf_dir into a derived
``.localdata/`` directory, and the sweep executes there. Names:

    nonascii            tools/gen_nonascii.py  (chars != bytes docs)
    degenerate          tools/gen_degenerate.py --variant mixed
    degenerate-empty    tools/gen_degenerate.py --variant empty
    degenerate-single   tools/gen_degenerate.py --variant single

so the per-round certification is one command per corpus, e.g.::

    python tools/validate_oracle.py --vanilla --corpus nonascii /root/testdata/sf0.001
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v) -> str:
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    import duckdb

    from data_pipeline_example_spark.plans.oracles import ORACLES
    from data_pipeline_example_spark.plans.queries import QUERIES
    from data_pipeline_example_spark.session import get_spark
    from data_pipeline_example_spark.sources import TABLE_NAMES

    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    corpus = None
    if "--corpus" in argv:
        corpus = argv[argv.index("--corpus") + 1]
        del argv[argv.index("--corpus") : argv.index("--corpus") + 2]
    args = [a for a in argv if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    if corpus is not None:
        # regenerate the adversarial corpus from sf_dir, then sweep THERE —
        # the standing-gate form of the r14 hand-run non-ASCII audit
        import subprocess

        tools_dir = os.path.dirname(os.path.abspath(__file__))
        local = os.path.join(os.path.dirname(tools_dir), ".localdata")
        specs = {
            "nonascii": (["gen_nonascii.py"], "sfna"),
            "degenerate": (["gen_degenerate.py", "--variant", "mixed"], "sfdeg"),
            "degenerate-empty": (["gen_degenerate.py", "--variant", "empty"], "sfdeg_empty"),
            "degenerate-single": (["gen_degenerate.py", "--variant", "single"], "sfdeg_single"),
        }
        if corpus not in specs:
            print(f"unknown --corpus {corpus!r}; known: {sorted(specs)}")
            return 2
        gen_cmd, out_name = specs[corpus]
        dst = os.path.join(local, out_name)
        cmd = [sys.executable, os.path.join(tools_dir, gen_cmd[0])]
        if gen_cmd[0] == "gen_nonascii.py":
            cmd += [sf_dir, dst]
        else:
            cmd += gen_cmd[1:] + ["--src", sf_dir, "--dst", dst]
        subprocess.run(cmd, check=True)
        sf_dir = dst

    if vanilla:
        # replicate the external driver's session exactly: plain builder,
        # ANSI on (Spark 4 default), none of session.py's confs — every
        # runtime-critical conf must reach the query through
        # sources.tables.ensure_session_confs or the query breaks here
        # the same way it would break under the driver
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        # testdata ships single files; gen_sf.py scale dirs ship Spark
        # dataset DIRECTORIES — glob those so the oracle gate also runs
        # against .localdata/sf1 and beyond
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in ORACLES:
            # rows-only contract entry (non-SQL-expressible op): the
            # driver records the weaker rows-only check; here we just
            # confirm it executes
            print(f"{'rows-only':40s} {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(ORACLES[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems and table_hash(scols, srows) != table_hash(ocols, orows):
            problems.append("value hash mismatch")
            sset = {
                "|".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(scols)), key=lambda i: scols[i])
                )
                for r in srows
            }
            oset = {
                "|".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                )
                for r in orows
            }
            for d in list(sset - oset)[:3]:
                print(f"  spark-only: {d}")
            for d in list(oset - sset)[:3]:
                print(f"  duck-only:  {d}")
        status = "ok" if not problems else "FAIL " + "; ".join(problems)
        print(f"{status:40s} {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        if problems:
            failures.append(name)
    n_run = len([n for n in QUERIES if not only or n in only])
    print(f"\n{n_run - len(failures)}/{n_run} queries match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
