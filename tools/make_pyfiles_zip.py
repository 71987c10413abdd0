#!/usr/bin/env python
"""Build sketchlib.zip for `spark-submit --py-files` deployment.

    python tools/make_pyfiles_zip.py [out.zip]
    spark-submit --py-files sketchlib.zip your_job.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sketchlib.session import build_pyfiles_zip  # noqa: E402

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "sketchlib.zip")
    print(build_pyfiles_zip(out))
