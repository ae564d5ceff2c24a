"""Self-test of the output check: a tiny run must pass it, and each
deliberately corrupted copy of that output must be flagged.

    python3 perfbench/selftest.py

Exits 0 when the clean output passes and every corruption is caught.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import session  # noqa: E402
from perfbench.session import WORK  # noqa: E402

SIZE = 4000
SEED = 7


def _data_files(out_dir: str) -> list[str]:
    return sorted(
        f for f in glob.glob(f"{out_dir}/cell_bucket=*/run=*/*.parquet")
        if "crashed" not in f
    )


def _rewrite(path: str, column: str, row: int, edit) -> None:
    """Replace ``column`` of ``row`` in ``path`` by ``edit(old)``, and drop
    the file's Hadoop checksum so the reader sees the edit instead of
    failing on the checksum."""
    t = pq.read_table(path)
    col = t.column(column).to_pylist()
    col[row] = edit(col[row])
    t = t.set_column(t.schema.get_field_index(column), column,
                     pc.cast(col, t.schema.field(column).type))
    pq.write_table(t, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def corrupt_text(out_dir: str) -> None:
    path = max(_data_files(out_dir), key=os.path.getsize)
    _rewrite(path, "text", 0, lambda _old: "tampered")


def corrupt_admin_key(out_dir: str) -> None:
    """Move one point to another admin area."""
    for path in _data_files(out_dir):
        keys = pq.read_table(path, columns=["admin_key"]).column("admin_key").to_pylist()
        row = next((i for i, k in enumerate(keys) if k in ("SQA", "REC")), None)
        if row is not None:
            _rewrite(path, "admin_key", row, lambda old: "REC" if old == "SQA" else "SQA")
            return
    raise RuntimeError("no SQA/REC row to corrupt")


def drop_file(out_dir: str) -> None:
    os.remove(max(_data_files(out_dir), key=os.path.getsize))


CORRUPTIONS = [corrupt_text, corrupt_admin_key, drop_file]


def main() -> int:
    from ot_spark.pipeline import Pipeline

    from perfbench import gen, workload
    from perfbench.check import Checker

    session.pin_env()
    root = os.path.join(WORK, "selftest")
    op_dir = os.path.join(root, "op")
    spark = session.start("perfbench-selftest")
    ok = True
    try:
        for wl in ("geo_dense", "resume_small"):
            data, expect = gen.ensure(os.path.join(root, "cache"), wl, SEED, SIZE)
            admin, raster = workload.indexes()
            cfg = workload.pipeline_config(data, op_dir, admin, raster)
            state = os.path.join(root, "state")
            if wl == "resume_small":
                expect.update(gen.commit_crashed_state(spark, cfg, state))
            checker = Checker(spark, data, expect, admin.border_cells)
            shutil.rmtree(op_dir, ignore_errors=True)
            if wl == "resume_small":
                shutil.copytree(state, op_dir)
            info = Pipeline(cfg).run(spark)
            problems, _ = checker.check(cfg.out_dir, cfg.lineage_path, info)
            print(f"{wl} clean output: {'ok' if not problems else problems}")
            ok &= not problems
            good = os.path.join(root, "good")
            shutil.rmtree(good, ignore_errors=True)
            shutil.copytree(op_dir, good)
            for corrupt in CORRUPTIONS:
                shutil.rmtree(op_dir)
                shutil.copytree(good, op_dir)
                corrupt(cfg.out_dir)
                problems, _ = checker.check(cfg.out_dir, cfg.lineage_path, info)
                print(f"{wl} {corrupt.__name__}: "
                      f"{'flagged: ' + problems[0][:100] if problems else 'NOT FLAGGED'}")
                ok &= bool(problems)
    finally:
        session.stop(spark)
        shutil.rmtree(root, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
