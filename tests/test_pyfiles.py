"""The spark-submit ``--py-files`` artifact: dist/kg.zip must match
kg/ file for file, byte for byte, or a driver honoring --py-files runs
stale code. Rebuild with ``python tools/make_pyfiles.py``."""

from __future__ import annotations

from tools import make_pyfiles


def test_pyfiles_zip_matches_tree(capsys):
    ok = make_pyfiles.verify()
    assert ok, capsys.readouterr().out
