"""The delivery plan's import chain stays free of pandas: a fresh driver or
Python worker that imports it does not pay pandas' import time."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_delivery_import_does_not_load_pandas():
    code = (
        "import sys\n"
        "import snapshot_sender_spark.plans.delivery\n"
        "assert 'pandas' not in sys.modules, 'pandas imported'\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=ROOT)
