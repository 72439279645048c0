"""Footer/metadata inspection — the `orc-tools meta` / `orc-metadata`
capability (reference S11/S12: `tools/FileDump.java`,
`tools/src/FileMetadata.cc:151`) and the metadata-only statistics
shortcut (SURVEY §4 custom (c)).

The reference answers count/min/max/sum from footer statistics without
scanning rows (`ColumnStatisticsImpl.java`, `Footer.statistics`). Spark
4's ORC scan doesn't expose aggregate pushdown to Python, so we read
footers directly with pyarrow.orc on the driver — file tails only, no
data pages; at 100 TB this is one tail-read per file and should be
distributed (mapInPandas over file lists) — `orc_meta_distributed`
does exactly that, with the same per-file reader.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.session import ship_engine


def _orc_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*.orc"), recursive=True)
        + glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    )


_META_SCHEMA = (
    "file string, nrows long, nstripes long, compression string,"
    " compression_size long, row_index_stride long, writer string,"
    " content_length long, ncolumns int"
)
_META_COLUMNS = [c.split()[0] for c in _META_SCHEMA.split(",")]


def _file_meta_row(f: str) -> dict:
    """One file's footer facts (schema, rows, stripes, compression)."""
    from pyarrow import orc as pa_orc

    o = pa_orc.ORCFile(f)
    return {
        "file": os.path.basename(f),
        "nrows": int(o.nrows),
        "nstripes": int(o.nstripes),
        "compression": str(o.compression),
        "compression_size": int(o.compression_size),
        "row_index_stride": int(o.row_index_stride),
        "writer": str(o.writer),
        "content_length": int(o.content_length),
        "ncolumns": len(o.schema),
    }


def _file_meta_rows(path: str) -> list[dict]:
    """Per-file footer facts for every ORC file under `path`."""
    return [_file_meta_row(f) for f in sorted(set(_orc_files(path)))]


def _read_tails(batches):
    """mapInPandas function: `_file_meta_row` per listed file."""
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(
            [_file_meta_row(f) for f in pdf["path"]], columns=_META_COLUMNS
        )


def orc_meta(spark: SparkSession, path: str) -> DataFrame:
    """`orc-tools meta` as a DataFrame (driver-side tail reads)."""
    return spark.createDataFrame(_file_meta_rows(path), _META_SCHEMA)


def orc_meta_distributed(spark: SparkSession, path: str) -> DataFrame:
    """Same facts, but footer reads run on executors (scale path: one
    task per file batch instead of a driver-side loop)."""
    files = sorted(set(_orc_files(path)))
    if not files:
        return orc_meta(spark, path)
    ship_engine(spark)
    fdf = spark.createDataFrame([(f,) for f in files], "path string")
    return fdf.repartition(min(len(files), 32)).mapInPandas(
        _read_tails, schema=_META_SCHEMA
    )


def orc_file_stats_from_footer(spark: SparkSession, path: str) -> DataFrame:
    """Metadata-only total row count per ORC directory — the footer
    statistics shortcut (no data pages touched). Uses the distributed
    footer reader: at a million files this is a parallel tail-read
    job, not a driver loop."""
    import pyspark.sql.functions as F

    return orc_meta_distributed(spark, path).agg(
        F.count("*").alias("nfiles"),
        F.sum("nrows").alias("total_rows"),
        F.sum("nstripes").alias("total_stripes"),
    )
