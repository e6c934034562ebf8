#!/usr/bin/env python
"""Failing-soft network probe.

The vendored pure-Python protobuf bundle (_vendor/README.md) documents a
standing conditional: "rebuild from the official PyPI wheel if the
environment gains network". This probe is how the conditional actually
fires — run it now and then (README "Measuring"); if it ever prints
NETWORK: yes, rebuild the bundle per _vendor/README.md §Rebuild.

Exit code is ALWAYS 0 (the probe must never break a checklist run on the
expected no-network host); the signal is the printed line.
"""

from __future__ import annotations

import socket

HOSTS = [("pypi.org", 443), ("files.pythonhosted.org", 443)]


def main() -> int:
    for host, port in HOSTS:
        try:
            with socket.create_connection((host, port), timeout=3):
                print(
                    f"NETWORK: yes ({host}:{port} reachable) — rebuild the "
                    "vendored protobuf bundle from the official PyPI wheel "
                    "this round (mapreduce_simple_go_spark/_vendor/"
                    "README.md)."
                )
                return 0
        except OSError:
            continue
    print("NETWORK: no (pypi.org unreachable) — vendored bundle stands.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
