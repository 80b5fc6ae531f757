from __future__ import annotations

import os
import sys

import pytest

# the checkout this file lives in, so two trees can run side by side
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from dpo_ocr_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s
