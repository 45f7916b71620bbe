import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", shuffle_partitions=8)
    yield s
    s.stop()
