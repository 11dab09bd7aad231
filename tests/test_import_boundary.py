"""Import fence for the two jobs: what ``python -m openapc_olap_spark load``
and ``serve`` import must not pull in the extension library (operators,
the legacy query packs, sources, streaming). Checked in a fresh
interpreter, so modules other tests loaded cannot hide a leak."""

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB_MODULES = ["openapc_olap_spark.__main__", "openapc_olap_spark.catalog",
                "openapc_olap_spark.query", "openapc_olap_spark.server",
                "openapc_olap_spark.etl.openapc"]
_FENCED = {"operators", "contrib_queries", "etl_queries", "sources",
           "streaming"}


def test_job_modules_import_no_extension_code():
    code = ("import importlib, sys\n"
            f"for m in {_JOB_MODULES!r}:\n"
            "    importlib.import_module(m)\n"
            "print('\\n'.join(sorted(sys.modules)))\n")
    loaded = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, check=True,
        capture_output=True, text=True).stdout.split()
    ours = [m.split(".") for m in loaded if m.startswith("openapc_olap_spark.")]
    assert set(_JOB_MODULES) <= set(loaded)
    leaked = [".".join(m) for m in ours if m[1] in _FENCED]
    assert not leaked, f"job modules import extension code: {leaked}"
