"""File-level views of a parquet sink for the damage and layout tests."""

import glob
import os
from pathlib import Path
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F


def tree_bytes(path):
    """Every file under ``path`` (hidden ones too), by relative path, with
    its bytes."""
    return {os.path.relpath(f, path): Path(f).read_bytes()
            for f in glob.glob(f"{path}/**", recursive=True)
            if os.path.isfile(f)}


def files_holding(spark, path, cond):
    """The local paths of the sink's data files holding a row that
    matches ``cond``."""
    uris = (spark.read.parquet(path).filter(cond)
            .select(F.input_file_name()).distinct().collect())
    return sorted(unquote(urlparse(r[0]).path) for r in uris)
