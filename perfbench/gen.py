"""Seeded input generator for the ``Pipeline.run`` benchmark.

``generate(workload, seed, size, path)`` writes ``pages/`` and ``links/``
(what the program reads) and ``truth/`` (the generator's own per-url ground
truth, read only by the checker).  Every value is a function of
``hash(doc_id, seed, salt)`` in DuckDB SQL, so the same (seed, size) gives
the same files.  The generator runs in DuckDB, not Spark: a Spark generator
needs a JVM of its own to keep the measured process's first run cold, and
that JVM's start-up and cold jobs cost ~20 s of every run, more than the
measured work.

Coordinates are whole hundredths of a degree (``lat100``/``lon100``), the
same grid the gate's derived pages use, so the oracle and the program see
bit-identical doubles and the gate's exact-edge rule applies.

``commit_crashed_state`` builds ``resume_small``'s half-committed table
through the program itself (``Pipeline.build`` + ``lineage``), so it runs in
the measuring process's session.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from ot_spark.synth import LINK_ATTR_TABLE

# bump when any generated byte changes: the cache key includes it
GEN_VERSION = 1

# links whose attrs pass filters.complex_filter / carry a skip-elevation
# key with value != "no" (ot_spark.synth's documented truth table)
LINK_ACCEPTED_MODS = (0, 1, 3, 5, 7)
LINK_SKIP_ELE_MODS = (1, 3, 7)

# page attrs: one entry per row; removable keys give remove_tags work
PAGE_ATTRS = [
    {"highway": "primary", "note": "x"},
    {"name": "page", "source:geo": "gps"},
    {"route": "bus"},
    {"wikipedia": "de:x", "railway": "platform"},
    {"building": "yes", "fixme": "check"},
    {"name": "a", "created_by": "bot", "url": "http://x"},
    {},
    {"man_made": "pier", "note:de": "y"},
]
LANGS = ["en", "de", "nl", "fr", "es", "it", "pt", "pl"]

# geo_pct% of pages carry coordinates: url_pct% of those in the url,
# text_pct% in the text body, the rest in the html meta tag; region_pct%
# of the points fall in the fixture-polygon/raster region (lat -0.9..4.9,
# lon -0.9..8.9), the rest anywhere off the poles
GEO = dict(geo_pct=80, region_pct=70, url_pct=75, text_pct=15, body_bytes=0, links=True)
SHAPES = {
    "geo_dense": GEO,
    "crawl_wide": dict(geo_pct=5, region_pct=0, url_pct=0, text_pct=50,
                       body_bytes=4096, links=False),
    "resume_small": GEO,
}
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang", "attrs", "version", "user"]
ROWS_PER_FILE = 50_000
MIN_FILES = 4

RESUME_COMMITTED = range(0, 32)  # buckets committed before the crash
RESUME_CRASHED_BUCKET = 40       # bucket whose files landed, never committed


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _map(d: dict) -> str:
    if not d:
        return "MAP([]::VARCHAR[], []::VARCHAR[])"
    return "MAP {" + ", ".join(f"{_sql_str(k)}: {_sql_str(v)}" for k, v in d.items()) + "}"


def _pick(index: str, options: list[str]) -> str:
    whens = " ".join(f"WHEN {i} THEN {o}" for i, o in enumerate(options[:-1]))
    return f"(CASE {index} {whens} ELSE {options[-1]} END)"


def _deg(v100: str) -> str:
    """'%.2f' of v100 / 100 from the integer, exactly ('-0.05', '12.30')."""
    return (
        f"(CASE WHEN {v100} < 0 THEN '-' ELSE '' END || (abs({v100}) // 100)::VARCHAR"
        f" || '.' || lpad((abs({v100}) % 100)::VARCHAR, 2, '0'))"
    )


def _chunks(seed: int, n: int = 2048, size: int = 1024) -> list[str]:
    """``n`` seeded ``size``-byte runs of pseudo-words; page bodies are
    strung together from them (so bodies compress roughly like text)."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(letters) for _ in range(rng.randint(2, 10)))
        for _ in range(4096)
    ]
    out = []
    for _ in range(n):
        chunk: list[str] = []
        length = 0
        while length < size:
            w = rng.choice(words)
            chunk.append(w)
            length += len(w) + 1
        out.append(" ".join(chunk)[:size])
    return out


def _pages_sql(seed: int, n: int, shape: dict) -> str:
    def u(salt: int, m: int) -> str:
        return f"CAST(hash(doc_id, {seed}, {salt}) % {m} AS BIGINT)"

    n_links = max(n // 8, 1)
    if shape["body_bytes"]:
        chunks = _chunks(seed)
        arr = "[" + ", ".join(_sql_str(c) for c in chunks) + "]"
        k = max(1, shape["body_bytes"] // len(chunks[0]))

        def body(salt: int) -> str:
            picks = [f"{arr}[{u(salt * 1000 + j, len(chunks))} + 1]" for j in range(k)]
            return "concat_ws(' ', " + ", ".join(picks) + ")"

        text_body, html_body = body(8), body(9)
    else:
        text_body = "'crawl body ' || doc_id || ' spark grid tile raster page'"
        html_body = "'page ' || doc_id"
    url_pct, text_pct = shape["url_pct"], shape["text_pct"]
    lat_s, lon_s = _deg("lat100"), _deg("lon100")
    host = f"'site-' || {u(7, 64)} || '.example.org'"
    return f"""
    WITH g AS (
      SELECT range AS doc_id,
        CASE WHEN {u(1, 100)} >= {shape['geo_pct']} THEN 'none'
             WHEN {u(2, 100)} < {url_pct} THEN 'url'
             WHEN {u(2, 100)} < {url_pct + text_pct} THEN 'text'
             ELSE 'html' END AS src,
        {u(3, 100)} < {shape['region_pct']} AS region,
        CASE WHEN {u(20, 100)} < 90 THEN {u(21, n_links)} END AS l1,
        CASE WHEN {u(22, 100)} < 30 THEN {u(23, n_links)} END AS l2
      FROM range({n})
    ), c AS (
      SELECT *,
        CASE WHEN src <> 'none' THEN
          CASE WHEN region THEN {u(4, 580)} - 90 ELSE {u(4, 17999)} - 8999 END
        END AS lat100,
        CASE WHEN src <> 'none' THEN
          CASE WHEN region THEN {u(5, 980)} - 90 ELSE {u(5, 36000)} - 18000 END
        END AS lon100
      FROM g
    )
    SELECT doc_id, src, lat100, lon100, l1, l2,
      CASE WHEN src = 'url'
           THEN 'https://' || {host} || '/geo/' || {lat_s} || ',' || {lon_s} || '/p' || doc_id
           ELSE 'https://' || {host} || '/page/p' || doc_id END AS url,
      TIMESTAMPTZ '2024-01-01 00:00:00+00' + to_seconds({u(10, 86400 * 30)}) AS warc_ts,
      encode('<html><head>'
             || CASE WHEN src = 'html'
                     THEN '<meta name="geo.position" content="' || {lat_s} || ';' || {lon_s} || '">'
                     ELSE '' END
             || '</head><body><p>' || {html_body} || '</p></body></html>') AS html,
      CASE WHEN src = 'text' THEN {text_body} || ' coords: ' || {lat_s} || ', ' || {lon_s}
           ELSE {text_body} END AS text,
      {_pick(u(11, len(LANGS)), [_sql_str(x) for x in LANGS])} AS lang,
      {_pick(u(6, len(PAGE_ATTRS)), [_map(d) for d in PAGE_ATTRS])} AS attrs,
      CAST({u(12, 40)} AS INTEGER) AS version,
      'user' || {u(13, 1000)} AS "user"
    FROM c
    """


def _in_mods(col: str, mods) -> str:
    return f"coalesce({col} % 8 IN ({', '.join(map(str, mods))}), false)"


def generate(workload: str, seed: int, size: int, path: str) -> dict:
    import duckdb

    shape = SHAPES[workload]
    cols = ", ".join(f'"{c}"' for c in PAGE_COLS)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{path}/.spill'")
        con.execute(f"CREATE TEMP TABLE p AS {_pages_sql(seed, size, shape)}")
        files = max(MIN_FILES, -(-size // ROWS_PER_FILE))
        os.makedirs(f"{path}/pages")
        for k in range(files):
            lo, hi = k * size // files, (k + 1) * size // files
            con.execute(
                f"COPY (SELECT {cols} FROM p WHERE doc_id >= {lo} AND doc_id < {hi}"
                f" ORDER BY doc_id) TO '{path}/pages/part-{k:05d}.parquet' (FORMAT PARQUET)"
            )
        if shape["links"]:
            accepted = " OR ".join(_in_mods(c, LINK_ACCEPTED_MODS) for c in ("l1", "l2"))
            no_ele = " OR ".join(_in_mods(c, LINK_SKIP_ELE_MODS) for c in ("l1", "l2"))
            lattrs = _pick("link_id % 8", [_map(d) for d in LINK_ATTR_TABLE])
            os.makedirs(f"{path}/links")
            con.execute(f"""
            COPY (
              SELECT link_id, {lattrs} AS attrs, list(url ORDER BY url) AS refs
              FROM (SELECT l1 AS link_id, url FROM p WHERE l1 IS NOT NULL
                    UNION ALL SELECT l2, url FROM p WHERE l2 IS NOT NULL)
              GROUP BY link_id ORDER BY link_id
            ) TO '{path}/links/part-00000.parquet' (FORMAT PARQUET)
            """)
        else:
            accepted, no_ele = "true", "false"
        os.makedirs(f"{path}/truth")
        con.execute(f"""
        COPY (SELECT url, lat100, lon100, ({accepted}) AS accepted,
                     ({no_ele}) AS no_ele
              FROM p ORDER BY doc_id)
        TO '{path}/truth/part-00000.parquet' (FORMAT PARQUET)
        """)
        n_in, n_acc = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {accepted}) FROM p"
        ).fetchone()
    finally:
        con.close()
        shutil.rmtree(f"{path}/.spill", ignore_errors=True)
    return {"input_rows": int(n_in), "rows": int(n_acc)}


def ensure(cache_root: str, workload: str, seed: int, size: int,
           keep: int = 3) -> tuple[str, dict]:
    """Generated inputs for (workload, seed, size), cached under
    ``cache_root`` keyed by generator version, seed and size.  Written to a
    temp dir and renamed, so a half-written entry is never reused; only the
    ``keep`` most recent entries per workload stay on disk."""
    path = os.path.join(cache_root, f"{workload}-g{GEN_VERSION}-s{seed}-n{size}")
    meta = os.path.join(path, "expect.json")
    if not os.path.exists(meta):
        os.makedirs(cache_root, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        exp = generate(workload, seed, size, tmp)
        exp.update(workload=workload, seed=seed, size=size, gen_version=GEN_VERSION)
        with open(os.path.join(tmp, "expect.json"), "w") as fh:
            json.dump(exp, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        _evict(cache_root, workload, keep)
    os.utime(path)
    with open(meta) as fh:
        return path, json.load(fh)


def _evict(cache_root: str, workload: str, keep: int) -> None:
    entries = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if d.startswith(f"{workload}-g")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def commit_crashed_state(spark, cfg, state_dir: str) -> dict:
    """``resume_small``'s starting state, made by the program: buckets 0-31
    committed through ``lineage.write_with_lineage``, and bucket 40's files
    landed under a run id the lineage table never got.  Written where every
    op writes (lineage rows name their files by absolute path), then moved
    to ``state_dir``, the pristine copy each op restores."""
    from pyspark.sql import functions as F

    from ot_spark import lineage
    from ot_spark.pipeline import Pipeline

    op_dir = os.path.dirname(cfg.out_dir)
    shutil.rmtree(op_dir, ignore_errors=True)
    out = Pipeline(cfg).build(spark)
    bucket = F.pmod(F.col("grid_cell"), F.lit(cfg.n_buckets))
    info = lineage.write_with_lineage(
        out.where(bucket.between(RESUME_COMMITTED.start, RESUME_COMMITTED.stop - 1)),
        cfg.out_dir, cfg.lineage_path, key_cols=["url"],
        n_buckets=cfg.n_buckets, run_id="seeded00",
    )
    crashed_dir = (
        f"{cfg.out_dir}/{lineage.BUCKET_COL}={RESUME_CRASHED_BUCKET}/"
        f"{lineage.RUN_COL}=crashed00"
    )
    out.where(bucket == RESUME_CRASHED_BUCKET).coalesce(1).write.parquet(crashed_dir)
    crashed = sorted(f for f in os.listdir(crashed_dir) if f.endswith(".parquet"))
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.move(op_dir, state_dir)
    return {"committed_buckets": info["buckets_written"], "crashed_files": crashed}
