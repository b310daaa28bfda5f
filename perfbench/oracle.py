#!/usr/bin/env python3
"""Check the engine's outputs for the benchmark's calls against DuckDB, at a
small size (20000 x 2000 rows of the default seed's generator).

    python3 perfbench/oracle.py

The engine writes its inputs and every call's output as parquet; DuckDB
computes the same operation in SQL and the two must be equal as multisets.
closest is compared on (A row, distance): ties between equally near B rows
are broken by an engine-internal hash the SQL cannot reproduce. The pinned
rows+sig in pinned.json come from the same calls at the benchmark's size.
"""
import os
import shutil
import sys

import duckdb

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402
import run

A_COLS = ["chrom", "start", "end", "name", "score", "strand"]
B_COLS = [c + "_" for c in A_COLS]
OVL = 'b.chrom = a.chrom AND b.start < a."end" AND a.start < b."end"'


def q(cols):
    return ", ".join(f'"{c}"' for c in cols)


def merged(src):
    """Runs of `src` merged when they overlap or touch, with their counts."""
    return f"""(SELECT chrom, min(start) AS start, max("end") AS "end", count(*) AS n_intervals
        FROM (SELECT *, sum(CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END)
                OVER (PARTITION BY chrom ORDER BY start, "end" ROWS UNBOUNDED PRECEDING) AS grp
              FROM (SELECT *, max("end") OVER (PARTITION BY chrom ORDER BY start, "end"
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM {src}))
        GROUP BY chrom, grp)"""


def oracles():
    bq = ", ".join(f'b."{c}" AS "{c}_"' for c in A_COLS)
    inner = f"SELECT a.*, {bq} FROM a JOIN b ON {OVL}"
    nulls = ", ".join(f'NULL AS "{c}"' for c in B_COLS)
    return {
        "overlap_inner": (A_COLS + B_COLS, inner),
        "overlap_left": (A_COLS + B_COLS, f"""{inner} UNION ALL
            SELECT a.*, {nulls} FROM a WHERE NOT EXISTS (SELECT 1 FROM b WHERE {OVL})"""),
        "count_overlaps": (A_COLS + ["count"], f"""SELECT a.*,
            (SELECT count(*) FROM b WHERE {OVL}) AS count FROM a"""),
        "coverage": (A_COLS + ["coverage"], f"""SELECT a.*, CAST(coalesce((SELECT
            sum(greatest(0, least(a."end", b."end") - greatest(a.start, b.start)))
            FROM {merged('b')} b WHERE {OVL}), 0) AS BIGINT) AS coverage FROM a"""),
        "closest": (A_COLS + ["distance"], f"""SELECT a.*, (SELECT
            min(greatest(0, greatest(a.start, b.start) - least(a."end", b."end")))
            FROM b WHERE b.chrom = a.chrom) AS distance FROM a"""),
        "subtract": (A_COLS, f"""WITH m AS {merged('b')},
            ov AS (SELECT a.name, greatest(b.start, a.start) AS ms, least(b."end", a."end") AS me
                   FROM a JOIN m b ON {OVL}),
            frags AS (
              SELECT a.chrom, coalesce(lag(me) OVER (PARTITION BY ov.name ORDER BY ms), a.start)
                AS start, ms AS "end", a.name, a.score, a.strand FROM ov JOIN a USING (name)
              UNION ALL
              SELECT a.chrom, t.me, a."end", a.name, a.score, a.strand
              FROM (SELECT name, max(me) AS me FROM ov GROUP BY name) t JOIN a USING (name))
            SELECT * FROM frags WHERE start < "end"
            UNION ALL SELECT * FROM a WHERE name NOT IN (SELECT name FROM ov)"""),
        "merge": (["chrom", "start", "end", "n_intervals"], f"SELECT * FROM {merged('a')}"),
        "cluster": (A_COLS + ["cluster", "cluster_start", "cluster_end"], """
            SELECT * EXCLUDE (pm, grp), grp - 1 AS cluster,
              min(start) OVER (PARTITION BY chrom, grp) AS cluster_start,
              max("end") OVER (PARTITION BY chrom, grp) AS cluster_end
            FROM (SELECT *, sum(CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END)
                    OVER (PARTITION BY chrom ORDER BY start, "end" ROWS UNBOUNDED PRECEDING) AS grp
                  FROM (SELECT *, max("end") OVER (PARTITION BY chrom ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM a))"""),
        "complement": (["chrom", "start", "end", "view_region"], f"""WITH m AS {merged('a')},
            g AS (SELECT chrom, coalesce(lag("end") OVER (PARTITION BY chrom ORDER BY start), 0) AS s,
                    start AS e FROM m
                  UNION ALL SELECT chrom, max("end"), 9223372036854775807 FROM m GROUP BY chrom)
            SELECT chrom, s AS start, e AS "end", chrom AS view_region FROM g WHERE s < e"""),
    }


def main():
    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] cannot build: {e}")
    work = os.path.join(build.OUT, "work", f"oracle-{os.getpid()}")
    dump = os.path.join(work, "dump")
    try:
        rc, _ = run.run_java(run.java_cmd("perfbench.Main", ["--work", work, "--dump", dump], work),
                             os.path.join(build.OUT, "logs", "oracle.log"))
        if rc != 0:
            sys.exit(f"[perfbench] dump failed (rc={rc})")
        db = duckdb.connect()
        for t in ["a", "b"]:
            db.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{dump}/{t}.parquet/*.parquet')")
        bad = 0
        for name, (cols, sql) in oracles().items():
            got = f"(SELECT {q(cols)} FROM read_parquet('{dump}/{name}.parquet/*.parquet'))"
            want = f"(SELECT {q(cols)} FROM ({sql}))"
            n = db.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
            diff = db.execute(f"""SELECT count(*) FROM
                ((SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want})
                 UNION ALL (SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got}))""").fetchone()[0]
            bad += diff > 0 or n == 0
            print(f"{'ok  ' if diff == 0 and n else 'FAIL'} {name:15s} {n} rows, {diff} differ")
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
