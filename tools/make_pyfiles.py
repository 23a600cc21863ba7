"""Build the ``--py-files`` artifact for cluster submission.

Produces ``dist/plwordnet_spark.zip`` with
:func:`plwordnet_spark.session.write_package_zip`, the writer
``get_spark`` uses to ship the package to local workers, so

    spark-submit --py-files dist/plwordnet_spark.zip your_job.py

runs the same code path on a real multi-executor cluster (north-rule
launch mode). Usage: ``python tools/make_pyfiles.py [out_dir]``.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from plwordnet_spark.session import write_package_zip  # noqa: E402


def build(out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    return write_package_zip(os.path.join(out_dir, "plwordnet_spark.zip"))


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "dist")
    print(build(out))
