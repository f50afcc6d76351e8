"""The query registry is the plain ``@query`` registration order: no
import-time reorder, and importing the registry reads no data file."""

from __future__ import annotations

import os
import re
import subprocess
import sys

from poet_cloud_cost_etl_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_keeps_registration_order():
    """``QUERIES`` lists the ``@query("...")`` decorators of queries.py
    in source order."""
    with open(Q.__file__) as f:
        names = re.findall(r'^@query\("([^"]+)"\)$', f.read(), re.M)
    assert len(names) == len(set(names)) == 310
    assert list(Q.QUERIES) == names


def test_registry_import_reads_no_data_file():
    """Importing the registry opens only Python sources: the registry
    cannot depend on which files sit beside the checkout."""
    probe = (
        "import sys\n"
        "import pyspark.sql, duckdb\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and isinstance(args[0], str):\n"
        "        opened.append(args[0])\n"
        "sys.addaudithook(hook)\n"
        "import poet_cloud_cost_etl_spark.queries\n"
        "print('\\n'.join(p for p in opened\n"
        "                 if not p.endswith(('.py', '.pyc', '.so'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.strip() == "", out
