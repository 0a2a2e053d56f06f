"""Launch bootstrap shared by the ``jobs/*.py`` entry points: each imports
it first, before anything from the package.

It puts the repository root on ``sys.path`` for the driver and on
``PYTHONPATH`` for the Python workers Spark forks, so a job also runs as a
plain script (``python jobs/pipeline.py ...``) from any directory; without
the ``PYTHONPATH`` entry the workers fail with ``ModuleNotFoundError`` on
the package.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
