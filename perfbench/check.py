"""Correctness check of one ``Pipeline.run`` output, run outside timing.

The expected side never goes through the program: row count and
``bit_xor(xxhash64(url))`` / ``bit_xor(xxhash64(url, text))`` come from the
generator's own accepted set (``truth/``, hashed by Spark's ``xxhash64``
the first time a check runs, so the first op stays cold), and the ``admin_key`` /
``elev`` histograms from DuckDB over the generator's ground truth, using the
correctness gate's ``pip_admin`` and ``elevation`` oracle formulas.  Points
exactly on a fixture-polygon edge are scored the way the gate's
``_off_boundary_col`` does: counted, but under an ``<edge>`` key instead of
their admin key.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as gate
from ot_spark import lineage, pagesview

NO_COORDS, EDGE, NO_KEY = "<none>", "<edge>", "<null>"


def _off_boundary_sql(lat100: str, lon100: str) -> str:
    return gate._OFF_BOUNDARY_SQL.replace(
        pagesview.LAT100_SQL, lat100
    ).replace(pagesview.LON100_SQL, lon100)


def _pip_case_sql() -> str:
    """The gate's admin-key CASE over ``lat``/``lon``."""
    m = re.search(r"(CASE\s+WHEN\s+lon\b.*?\bEND)\s+AS\s+admin_key",
                  gate._PIP_GEOMETRIC_SQL, re.S)
    return m.group(1)


def oracle(data: str) -> dict:
    """Expected (admin_key, elev) histograms over the accepted pages."""
    import duckdb

    _rid, elev_case = gate._elevation_cases("lat", "lon")
    sql = f"""
    WITH pts AS (
      SELECT lat100, lon100, no_ele,
             lat100 / 100.0 AS lat, lon100 / 100.0 AS lon
      FROM read_parquet('{data}/truth/*.parquet') WHERE accepted
    )
    SELECT CASE WHEN lat100 IS NULL THEN '{NO_COORDS}'
                WHEN NOT ({_off_boundary_sql('lat100', 'lon100')}) THEN '{EDGE}'
                ELSE coalesce({_pip_case_sql()}, '{NO_KEY}') END AS k,
           CASE WHEN no_ele OR lat100 IS NULL THEN NULL ELSE {elev_case} END AS elev,
           CAST(count(*) AS BIGINT) AS n
    FROM pts GROUP BY 1, 2
    """
    con = duckdb.connect()
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return _histograms((k, e, n) for k, e, n in rows)


def _histograms(rows) -> dict:
    admin: Counter = Counter()
    elev: Counter = Counter()
    for k, e, n in rows:
        admin[k] += n
        elev[None if e is None else float(e)] += n
    return {"admin": dict(admin), "elev": dict(elev)}


class Checker:
    """Checks op outputs against one generated input set."""

    def __init__(self, spark: SparkSession, data: str, expect: dict,
                 border_cells: list[int]):
        self.spark = spark
        self.data = data
        self.expect = expect
        self.hist = oracle(data)
        self.hashes: dict | None = None
        self.border_cells = sorted(int(c) for c in border_cells)

    def observed(self, out_dir: str, lineage_path: str) -> dict:
        """One aggregation over the committed table, read as users read it."""
        df = lineage.read_current(self.spark, out_dir, lineage_path).withColumns({
            "__lat100": F.round(F.col("lat") * 100).cast("long"),
            "__lon100": F.round(F.col("lon") * 100).cast("long"),
            "__border": F.col("grid_cell").isin(self.border_cells),
        })
        k = (
            F.when(F.col("lat").isNull(), F.lit(NO_COORDS))
            .when(~F.expr(_off_boundary_sql("__lat100", "__lon100")), F.lit(EDGE))
            .otherwise(F.coalesce(F.col("admin_key"), F.lit(NO_KEY)))
        )
        rows = (
            df.groupBy(k.alias("k"), "elev")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("url")).alias("url_xor"),
                F.bit_xor(F.xxhash64("url", "text")).alias("text_xor"),
                F.count(F.when(F.col("__border"), 1)).alias("border"),
                F.count(F.when(F.col("__border") & F.col("admin_key").isNotNull(), 1))
                .alias("border_hit"),
                F.count("raster_id").alias("raster"),
            )
            .collect()
        )
        out = _histograms((r["k"], r["elev"], r["n"]) for r in rows)
        out["url_xor"] = out["text_xor"] = 0
        for r in rows:
            out["url_xor"] ^= r["url_xor"]
            out["text_xor"] ^= r["text_xor"]
        for key, col in (("rows", "n"), ("border_rows", "border"),
                         ("border_hits", "border_hit"), ("raster_rows", "raster")):
            out[key] = sum(r[col] for r in rows)
        return out

    def expected_hashes(self) -> dict:
        """Count and xor checksums of the generator's accepted pages."""
        spark = self.spark
        accepted = spark.read.parquet(f"{self.data}/truth").where("accepted").select("url")
        row = (
            spark.read.parquet(f"{self.data}/pages")
            .join(accepted, "url", "left_semi")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64("url")).alias("url_xor"),
                F.bit_xor(F.xxhash64("url", "text")).alias("text_xor"),
            )
            .first()
        )
        return {k: v or 0 for k, v in row.asDict().items()}

    def check(self, out_dir: str, lineage_path: str, info: dict) -> tuple[list[str], dict]:
        """(problems found in one op's output, the observed aggregates)."""
        spark, expect = self.spark, self.expect
        if self.hashes is None:
            self.hashes = self.expected_hashes()
            if self.hashes["rows"] != expect["rows"]:
                raise RuntimeError(
                    f"inputs disagree: {self.hashes['rows']} accepted pages in "
                    f"pages/, {expect['rows']} in expect.json"
                )
        # the two scans of the table are independent: run them side by side
        with ThreadPoolExecutor(2) as pool:
            got_f = pool.submit(self.observed, out_dir, lineage_path)
            bad_f = pool.submit(
                lambda: lineage.verify_against_lineage(
                    spark, out_dir, lineage_path, ["url"]
                ).count()
            )
            got, bad = got_f.result(), bad_f.result()
        problems = []
        for key in ("rows", "url_xor", "text_xor"):
            if got[key] != self.hashes[key]:
                problems.append(f"{key}: got {got[key]}, want {self.hashes[key]}")
        for h in ("admin", "elev"):
            if got[h] != self.hist[h]:
                diff = {
                    k: (got[h].get(k, 0), self.hist[h].get(k, 0))
                    for k in set(got[h]) | set(self.hist[h])
                    if got[h].get(k, 0) != self.hist[h].get(k, 0)
                }
                problems.append(
                    f"{h} histogram differs (got, want): {dict(list(diff.items())[:5])}"
                )
        if bad:
            problems.append(f"verify_against_lineage: {bad} buckets disagree")
        want_skipped = expect.get("committed_buckets", 0)
        if info.get("buckets_skipped") != want_skipped:
            problems.append(
                f"buckets_skipped: got {info.get('buckets_skipped')}, want {want_skipped}"
            )
        if "crashed_files" in expect:
            orphans = sorted(
                os.path.basename(f)
                for f in lineage.orphan_files(spark, out_dir, lineage_path)
            )
            if orphans != expect["crashed_files"]:
                problems.append(
                    f"orphan_files: got {orphans}, want {expect['crashed_files']}"
                )
        return problems, got
