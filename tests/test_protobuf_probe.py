"""Tests for the google.protobuf discovery shim (_protobuf.py).

The shim exists so transformWithStateInPandas (Spark 4 StatefulProcessor,
the streaming twin of the reference KV fold declared in
/root/reference/src/models/kv.go:40-54) can run where protobuf is not
pip-installed but a pure-Python runtime is bundled by public host tooling.
Subprocess isolation keeps sys.path/module mutations out of the test
runner.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, env_extra: dict | None = None) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(env_extra or {})
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_importable_rejects_namespace_only_package(tmp_path):
    """A bare google/protobuf directory pair (what spark-core's jar serves
    via zipimport) must NOT count as an importable runtime."""
    ns = tmp_path / "nsroot" / "google" / "protobuf"
    ns.mkdir(parents=True)
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {str(tmp_path / "nsroot")!r})
        sys.path.insert(0, {REPO!r})
        import importlib.util
        spec = importlib.util.find_spec("google.protobuf")
        assert spec is not None and spec.origin is None  # namespace-only
        from mapreduce_simple_go_spark._protobuf import _importable
        print(_importable())
        """
    )
    assert out == "False"


def test_ensure_protobuf_discovers_bundle_or_reports_absence():
    """ensure_protobuf returns True iff `from google.protobuf import
    descriptor` then works — on this host via the google-cloud-sdk bundle."""
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from mapreduce_simple_go_spark._protobuf import ensure_protobuf
        ok = ensure_protobuf()
        if ok:
            from google.protobuf import descriptor  # must be a REAL package
            assert descriptor.__file__ is not None
        print(ok)
        """
    )
    assert out in {"True", "False"}


def test_incomplete_bundle_fails_loudly_at_registration(tmp_path):
    """r10: a fallback bundle that ACTIVATES (google.
    protobuf imports) but cannot satisfy pyspark's gencode import surface
    must raise a RuntimeError pointing at the vendor README — at
    registration time on the driver, not as an opaque ImportError inside a
    streaming worker mid-query. Simulated with a bundle whose
    google/protobuf is a real package but empty (every well-known-type and
    internal module missing)."""
    root = tmp_path / "bundle"
    gp = root / "google" / "protobuf"
    gp.mkdir(parents=True)
    (root / "google" / "__init__.py").write_text("")
    (gp / "__init__.py").write_text("__version__ = '0.0.0-test'\n")
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import mapreduce_simple_go_spark._protobuf as P
        P._FALLBACK_DIRS = ({str(root)!r},)
        try:
            P.ensure_protobuf()
            print("NO-RAISE")
        except RuntimeError as e:
            msg = str(e)
            assert "Known" in msg and "README" in msg, msg
            print("RAISED")
        """
    )
    # On a host where protobuf is genuinely pip-installed the fallback
    # never activates and the probe correctly stays silent. Detect that in
    # a CLEAN subprocess — the test runner's own sys.path may already
    # carry the vendored bundle from an earlier ensure_protobuf() call
    # (suite-order dependent), which is discovery pollution, not a real
    # install.
    real = _run(
        """
        import importlib.util
        try:
            spec = importlib.util.find_spec("google.protobuf")
            print(spec is not None and spec.origin is not None)
        except ModuleNotFoundError:
            print(False)
        """
    )
    assert out == ("NO-RAISE" if real == "True" else "RAISED")


def test_incomplete_bundle_unwinds_and_next_fallback_wins(tmp_path):
    """r11: an activating-but-incomplete bundle must be fully
    unwound (sys.path, PYTHONPATH, cached google.* modules) and the NEXT
    fallback probed — a stale first bundle must not mask a later complete
    one, nor leave the process half-configured. Simulated with a broken
    bundle ahead of the repo's vendored zip."""
    root = tmp_path / "broken"
    gp = root / "google" / "protobuf"
    gp.mkdir(parents=True)
    (root / "google" / "__init__.py").write_text("")
    (gp / "__init__.py").write_text("__version__ = '0.0.0-test'\n")
    out = _run(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        import mapreduce_simple_go_spark._protobuf as P
        broken = {str(root)!r}
        P._FALLBACK_DIRS = (broken,) + P._FALLBACK_DIRS
        try:
            ok = P.ensure_protobuf()
        except RuntimeError:
            # No complete fallback on this host either — but the broken
            # bundle must still have been unwound before the raise.
            ok = None
        assert broken not in sys.path, "broken bundle left on sys.path"
        assert broken not in os.environ.get("PYTHONPATH", ""), (
            "broken bundle left on PYTHONPATH"
        )
        if ok:
            # The winner is a real runtime, not the broken bundle.
            assert P.active_fallback_dir() != broken
            from google.protobuf import descriptor
            assert descriptor.__file__ is not None
        print(ok)
        """
    )
    assert out in {"True", "False", "None"}


def test_unwind_spares_host_owned_google_modules(tmp_path):
    """r12: the incomplete-bundle unwind must purge ONLY
    google.* modules loaded from the failed bundle dir — a host-owned
    google.* package imported earlier by unrelated code (google.auth et
    al.) must keep its sys.modules entry, because importers hold live
    references that a blanket purge would silently de-sync. Simulated with
    a fake host-owned google.hostpkg on sys.path BEFORE the broken bundle
    probes, and the version-flag env var must return to its pre-probe
    value."""
    host = tmp_path / "host"
    hp = host / "google" / "hostpkg"
    hp.mkdir(parents=True)
    (hp / "__init__.py").write_text("MARK = 'host'\n")
    broken = tmp_path / "broken"
    gp = broken / "google" / "protobuf"
    gp.mkdir(parents=True)
    (broken / "google" / "__init__.py").write_text("")
    (gp / "__init__.py").write_text("__version__ = '0.0.0-test'\n")
    out = _run(
        f"""
        import os, sys
        sys.path.insert(0, {str(host)!r})
        sys.path.insert(0, {REPO!r})
        import google.hostpkg
        host_mod = sys.modules["google.hostpkg"]
        import mapreduce_simple_go_spark._protobuf as P
        flag_before = os.environ.get(P._VERSION_FLAG)
        P._FALLBACK_DIRS = ({str(broken)!r},)
        try:
            P.ensure_protobuf()
        except RuntimeError:
            pass
        assert sys.modules.get("google.hostpkg") is host_mod, (
            "host-owned google.* module purged by the unwind"
        )
        assert os.environ.get(P._VERSION_FLAG) == flag_before, (
            "version-flag env var not restored"
        )
        # nothing from the broken dir may linger in sys.modules
        for m, obj in list(sys.modules.items()):
            if m.startswith("google"):
                f = getattr(obj, "__file__", "") or ""
                assert not f.startswith({str(broken)!r}), m
        print("OK")
        """
    )
    assert out == "OK"


def test_driver_window_structure():
    """Window policy invariants that hold every round: the head the driver
    checks is at most 50 names, every window name resolves to a registered
    query AND oracle, and the window occupies exactly the front of the
    registry iteration order. (r7 pinned tws inside the head while it
    lacked a green driver row; it earned one in r7 and rotated out — the
    r8 window holds the 48 stale-verdict entries + the one code-changed
    entry, see operators/__init__.py.)"""
    from mapreduce_simple_go_spark.operators import (
        _WINDOW_PRIORITY,
        all_oracles,
        all_queries,
    )

    names = list(all_queries())
    oracles = all_oracles()
    assert len(_WINDOW_PRIORITY) <= 50
    assert names[: len(_WINDOW_PRIORITY)] == list(_WINDOW_PRIORITY)
    for n in _WINDOW_PRIORITY:
        assert n in oracles, f"window name {n} lacks an oracle"
