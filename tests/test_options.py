"""Every defaulted parameter of a package function is set by some caller.

A default that no call site in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` ever overrides is
an option whose other values nothing runs: it belongs at its use as a
literal or a named constant. ``tools/options.py`` is the census (source
parsing only); ``ALLOWED`` lists the exceptions, each with its reason.
"""

from __future__ import annotations

import time

from tools.options import census

#: (module, function, parameter) -> why the unset default stays
ALLOWED: dict[tuple[str, str, str], str] = {}


def test_every_defaulted_parameter_has_a_caller():
    t0 = time.perf_counter()
    params = census()
    elapsed = time.perf_counter() - t0
    unset = {(p.module, p.func, p.name): p.line for p in params if not p.set_by}
    stray = sorted(f"{m}:{line} {f}({n})" for (m, f, n), line in unset.items()
                   if (m, f, n) not in ALLOWED)
    assert not stray, "defaulted parameters no caller sets:\n" + "\n".join(stray)
    stale = sorted(k for k in ALLOWED if k not in unset)
    assert not stale, f"ALLOWED entries that no longer apply: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())
    assert elapsed < 2.0, f"census took {elapsed:.2f} s"


def test_census_sees_forwarding_and_keyword_passing(tmp_path, monkeypatch):
    """The census counts a keyword, a position, a ``partial`` binding and
    a spread tuple literal as setting a parameter, and a parameter passed
    on unchanged from an unset one as unset."""
    import tools.options as opt

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import functools\n"
        "def f(a, b=1, c=2, d=3, e=4):\n    pass\n"
        "def g(x, d=3):\n    f(x, d=d)\n"
        "def k(a, b=1, c=2):\n    pass\n"
        "def h():\n"
        "    f(0, c=5)\n    f(0, 1)\n    g(0)\n"
        "    functools.partial(f, e=9)\n"
        "    ab = (0, 1)\n    k(*ab)\n"
    )
    monkeypatch.setattr(opt, "REPO", str(tmp_path))
    monkeypatch.setattr(opt, "PACKAGE", "pkg")
    monkeypatch.setattr(opt, "CALLER_ROOTS", ("pkg",))
    unset = {(p.func, p.name) for p in opt.census() if not p.set_by}
    assert unset == {("f", "d"), ("g", "d"), ("k", "c")}
