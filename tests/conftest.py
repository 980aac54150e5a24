import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from paddleocr_spark.session import get_spark

    s = get_spark("paddleocr_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def media_store(spark, tmp_path_factory):
    """Factory: write a synthesized media DataFrame as a parquet store
    (``n_files`` data files when given) plus its manifest, and return
    the store path — the only form in which media reaches the decode."""
    from paddleocr_spark.functions.udfs import write_store_manifest

    def write(media_df, n_files: int | None = None) -> str:
        path = str(tmp_path_factory.mktemp("media_store"))
        if n_files is not None:
            media_df = media_df.repartition(n_files)
        media_df.write.mode("overwrite").parquet(path)
        write_store_manifest(spark, path)
        return path

    return write
