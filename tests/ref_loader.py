"""Load individual reference modules (read-only, /root/reference) for
differential testing, bypassing the package __init__ (it imports
openai/loguru, which the tests do not require).

The reference sources are not part of this repository. Tests that compare
against them carry ``needs_reference`` and load the modules inside the test,
so they are skipped where the directory is absent and run unchanged where it
exists."""

import importlib.util
import os
import sys
import types

import pytest

REF = "/root/reference/logparser_llm"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF), reason=f"reference sources absent: {REF}"
)


def _shim(name: str, attrs: dict | None = None):
    if name in sys.modules:
        return
    mod = types.ModuleType(name)
    for k, v in (attrs or {}).items():
        setattr(mod, k, v)
    sys.modules[name] = mod


def _install_shims():
    class _Logger:
        def __getattr__(self, name):
            return lambda *a, **k: None

    _shim("loguru", {"logger": _Logger()})
    _shim("openai", {"OpenAI": object, "AzureOpenAI": object, "AsyncOpenAI": object})
    _shim("openai.types", {})
    _shim("openai.types.chat", {"ChatCompletion": object})
    _shim("dotenv", {"load_dotenv": lambda *a, **k: None})


def load_ref_module(name: str, path: str):
    _install_shims()
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def ref_prefix_tree():
    return load_ref_module("ref_prefix_tree", f"{REF}/core/prefix_tree.py")


def _ref_package_module(dotted: str, path: str):
    """Load a reference submodule under its package name WITHOUT running
    the package __init__ (it imports openai and a nonexistent
    ``..core.config_manager`` — the reference's own init chain is broken).
    Fake empty parent packages are registered instead."""
    _install_shims()
    if dotted in sys.modules:
        return sys.modules[dotted]
    parts = dotted.split(".")
    for i in range(1, len(parts)):
        pkg = ".".join(parts[:i])
        if pkg not in sys.modules:
            mod = types.ModuleType(pkg)
            mod.__path__ = []
            sys.modules[pkg] = mod
    spec = importlib.util.spec_from_file_location(dotted, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[dotted] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # a half-loaded module left in sys.modules would hide the real
        # error from every later caller behind an AttributeError
        sys.modules.pop(dotted, None)
        raise
    return mod


def ref_config():
    return _ref_package_module("logparser_llm.config_manager", f"{REF}/config_manager.py")


def ref_models():
    ref_config()
    return _ref_package_module("logparser_llm.models.log_entry", f"{REF}/models/log_entry.py")


def ref_cleaner():
    ref_config()
    return _ref_package_module("logparser_llm.preprocessor.cleaner", f"{REF}/preprocessor/cleaner.py")


def ref_merger():
    ref_config()
    ref_models()
    return _ref_package_module("logparser_llm.core.merger", f"{REF}/core/merger.py")


def ref_metrics():
    return _ref_package_module("logparser_llm.utils.metrics", f"{REF}/utils/metrics.py")


def ref_template_pool():
    ref_config()
    ref_models()
    return _ref_package_module(
        "logparser_llm.storage.template_pool", f"{REF}/storage/template_pool.py"
    )
