"""The reference loader itself: a module whose exec fails must not stay
registered half-loaded, or later callers see an AttributeError instead of
the real error."""

import sys

import pytest

from .ref_loader import _ref_package_module


def test_failed_load_leaves_no_half_loaded_module(tmp_path):
    dotted = "ref_loader_probe.absent"
    try:
        for _ in range(2):
            with pytest.raises(FileNotFoundError):
                _ref_package_module(dotted, str(tmp_path / "absent.py"))
            assert dotted not in sys.modules
    finally:
        sys.modules.pop(dotted, None)
        sys.modules.pop("ref_loader_probe", None)
