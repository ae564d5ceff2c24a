"""What every workload feeds ``Pipeline.run``: config and indexes."""

from __future__ import annotations

import os

from ot_spark.area_index import AreaIndex, build_area_index
from ot_spark.pipeline import PipelineConfig
from ot_spark.raster import RasterIndex
from ot_spark.synth import gen_admin_polygons, gen_raster_tiles

N_BUCKETS = 64


def indexes() -> tuple[AreaIndex, RasterIndex]:
    """The fixture admin polygons and raster tiles the gate uses."""
    rows = [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    return build_area_index(rows, tile_size=1.0), RasterIndex.from_arrow(gen_raster_tiles())


def pipeline_config(
    data: str, op_dir: str, admin_index: AreaIndex, raster_index: RasterIndex,
) -> PipelineConfig:
    """Pages (and links, when the workload has them) from ``data``; the
    table and its lineage table under ``op_dir``."""
    links = f"{data}/links"
    return PipelineConfig(
        pages_path=f"{data}/pages",
        links_path=links if os.path.isdir(links) else None,
        out_dir=f"{op_dir}/out",
        lineage_path=f"{op_dir}/out_lineage",
        n_buckets=N_BUCKETS,
        admin_index=admin_index,
        raster_index=raster_index,
    )
