"""Install story: the package must be pip-installable and usable
WITHOUT ``PYTHONPATH=.`` — the first thing a real consumer does.

Builds a throwaway venv (``--system-site-packages`` so the baked-in
pyspark/pandas are visible — no network in this environment), installs
the repo non-editable with ``--no-build-isolation --no-deps``, then
exercises the import and the ``leader-graph-spark`` console script
from a NEUTRAL working directory (not the repo root), which is exactly
the path a `pip install leader-graph-spark` user takes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import venv

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wheel_whl() -> str | None:
    """A ``wheel`` wheel from the local CPython installs' test fixtures
    — this container has no network and no system ``wheel`` package,
    and setuptools<70 needs it for the PEP 517 build."""
    import glob

    hits = glob.glob("/root/.pyenv/versions/*/lib/python*/test/wheeldata/wheel-*.whl")
    hits += glob.glob("/root/.pyenv/versions/*/lib/python*/test/wheel-*.whl")
    return sorted(hits)[-1] if hits else None


@pytest.fixture(scope="module")
def installed_env(tmp_path_factory):
    vdir = tmp_path_factory.mktemp("pkgvenv")
    venv.EnvBuilder(system_site_packages=True, with_pip=True).create(vdir)
    py = os.path.join(vdir, "bin", "python")
    whl = _wheel_whl()
    if whl:
        subprocess.run(
            [py, "-m", "pip", "install", "--quiet", "--no-index", whl],
            capture_output=True,
            text=True,
            timeout=300,
        )
    r = subprocess.run(
        [py, "-m", "pip", "install", "--no-build-isolation", "--no-deps",
         "--no-index", "--quiet", REPO],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr
    return vdir


def _run(vdir, args, cwd="/tmp"):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = f"{vdir}/bin:{env['PATH']}"
    return subprocess.run(args, capture_output=True, text=True, timeout=300, cwd=cwd, env=env)


def test_import_without_pythonpath(installed_env):
    r = _run(
        installed_env,
        [
            os.path.join(installed_env, "bin", "python"),
            "-c",
            "import leader_graph_spark, os;"
            "assert not os.path.realpath(leader_graph_spark.__file__).startswith"
            f"(os.path.realpath({REPO!r}) + os.sep), leader_graph_spark.__file__;"
            "from leader_graph_spark.plans import REGISTRY;"
            "assert len(REGISTRY) > 200;"
            "print('ok', len(REGISTRY))",
        ],
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("ok")


def test_console_script_list(installed_env):
    r = _run(installed_env, [os.path.join(installed_env, "bin", "leader-graph-spark"), "list"])
    assert r.returncode == 0, r.stderr
    assert "pricing_summary" in r.stdout


def test_console_script_runs_a_query(installed_env):
    r = _run(
        installed_env,
        [
            os.path.join(installed_env, "bin", "leader-graph-spark"),
            "run",
            "pricing_summary",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--limit",
            "3",
        ],
    )
    assert r.returncode == 0, r.stderr


def test_console_script_runs_a_python_worker_query(installed_env, sf_smoke):
    """``infobox_person_details`` parses HTML in ``mapInPandas`` tasks, so
    its Python workers must start from the installed package's daemon
    (``spark.python.daemon.module``) with no checkout on any path."""
    r = _run(
        installed_env,
        [
            os.path.join(installed_env, "bin", "leader-graph-spark"),
            "run",
            "infobox_person_details",
            "--sf-dir",
            sf_smoke,
            "--limit",
            "3",
        ],
    )
    assert r.returncode == 0, r.stderr
