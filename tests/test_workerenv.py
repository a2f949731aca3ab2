"""The zipimport guard lives in the Python daemon, not in the package:
importing the library patches nothing, and workers forked from the
``get_spark`` daemon run guarded."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ has the guard natively"
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_import_patches_nothing():
    probe = (
        "import zipimport\n"
        "import clinical_trial_searchengine_spark\n"
        "import clinical_trial_searchengine_spark.engine\n"
        "print(getattr(zipimport.zipimporter, '_ctse_zipimport_guard', False))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
        text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == "False"


def test_daemon_workers_run_guarded(spark):
    def flag(_):
        import zipimport

        return getattr(zipimport.zipimporter, "_ctse_zipimport_guard", False)

    assert spark.sparkContext.parallelize([0], 1).map(flag).collect() == [True]
