"""Configuration for the pipeline.

Mirrors the reference's pydantic config surface (reference
config_manager.py:30-122) with plain dataclasses — same knobs, same
defaults — plus Spark-specific scale knobs the reference doesn't have.
YAML loading with ``${VAR}`` / ``${VAR:default}`` environment-variable
interpolation matches reference config_manager.py:125-204, so a
reference-shaped config/config.yaml drives spark-submit runs unchanged
(LLM/cache/performance sections are accepted and ignored — those
subsystems are superseded by the deterministic extractor and the
broadcast pool, per SURVEY §2.3)."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class PreprocessingConfig:
    """Defaults match reference config_manager.py:75-86."""

    remove_timestamps: bool = False
    remove_ip_addresses: bool = False
    normalize_numbers: bool = True
    normalize_paths: bool = True
    lowercase: bool = False


@dataclass(frozen=True)
class TreeConfig:
    """Defaults match reference config_manager.py:50-60."""

    max_depth: int = 5
    min_cluster_size: int = 3
    token_delimiter: str = " "
    enable_fuzzy: bool = True
    fuzzy_threshold: float = 0.8


@dataclass(frozen=True)
class MergingConfig:
    """Defaults match reference config_manager.py:63-72.

    ``enable_slot_voting`` adds the deterministic cross-member slot-vote
    generalization pass (operators/merging.py:generalize_pool) after the
    reference-semantics auto-merge: token positions varying across
    otherwise-identical pool patterns (≥ ``slot_min_distinct`` distinct
    values) are wildcarded, recovering templates whose variable slots
    carry no digits (usernames, job words) that the LLM-free extractor
    over-splits. OFF by default — the reference has no such pass, and
    the registered flagship queries pin its exact merge semantics."""

    enable_auto_merge: bool = True
    merge_threshold: float = 0.9
    max_edit_distance: int = 3
    enable_slot_voting: bool = False
    slot_min_distinct: int = 3


@dataclass(frozen=True)
class ScaleConfig:
    """Spark-side knobs (no reference equivalent; the reference is
    single-process — parser.py:168-172 ignores use_parallel). Keys a
    config file sets beyond these are ignored, like every other unknown
    key (``_build_section``)."""

    num_sinks: int = 8
    broadcast_pool_max_templates: int = 100_000


@dataclass(frozen=True)
class PipelineConfig:
    preprocessing: PreprocessingConfig = field(default_factory=PreprocessingConfig)
    tree: TreeConfig = field(default_factory=TreeConfig)
    merging: MergingConfig = field(default_factory=MergingConfig)
    scale: ScaleConfig = field(default_factory=ScaleConfig)


DEFAULT_CONFIG = PipelineConfig()


# --- YAML loading with env interpolation (config_manager.py:125-229) ----

_ENV_PATTERN = re.compile(r"\$\{([^:}]+)(?::([^}]+))?\}")


def _replace_env_vars(value):
    """``${VAR}`` / ``${VAR:default}`` substitution, recursively — the
    reference's _replace_env_vars semantics (unset + no default keeps the
    original token)."""
    if isinstance(value, str):

        def _sub(m: re.Match) -> str:
            env = os.getenv(m.group(1))
            if env is not None:
                return env
            if m.group(2) is not None:
                return m.group(2)
            return m.group(0)

        return _ENV_PATTERN.sub(_sub, value)
    if isinstance(value, dict):
        return {k: _replace_env_vars(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_replace_env_vars(v) for v in value]
    return value


def _coerce(raw, default):
    """Env substitution yields strings; coerce to the field's type the
    way pydantic would."""
    if raw is None or not isinstance(raw, str) or isinstance(default, str):
        return raw
    if isinstance(default, bool):
        return raw.strip().lower() in ("1", "true", "yes", "on")
    if isinstance(default, int):
        return int(raw)
    if isinstance(default, float):
        return float(raw)
    return raw


def _build_section(cls, section: dict, renames: dict | None = None):
    """Instantiate a frozen dataclass from a YAML section: apply the
    reference→ours field renames, keep known fields, coerce types,
    silently ignore the rest (forward/LLM-era compat)."""
    renames = renames or {}
    known = {f.name: f.default for f in fields(cls)}
    kwargs = {}
    for key, value in (section or {}).items():
        name = renames.get(key, key)
        if name in known:
            kwargs[name] = _coerce(value, known[name])
    return cls(**kwargs)


# reference section/field names → ours
_TREE_RENAMES = {"enable_fuzzy_matching": "enable_fuzzy"}


def config_from_dict(d: dict) -> PipelineConfig:
    d = _replace_env_vars(d or {})
    tree_section = d.get("prefix_tree", d.get("tree", {}))
    return PipelineConfig(
        preprocessing=_build_section(PreprocessingConfig, d.get("preprocessing", {})),
        tree=_build_section(TreeConfig, tree_section, _TREE_RENAMES),
        merging=_build_section(MergingConfig, d.get("merging", {})),
        scale=_build_section(ScaleConfig, d.get("scale", d.get("spark", {}))),
    )


def from_yaml(config_path: str) -> PipelineConfig:
    import yaml

    if not os.path.exists(config_path):
        raise FileNotFoundError(f"Config file not found: {config_path}")
    with open(config_path) as f:
        return config_from_dict(yaml.safe_load(f) or {})


def to_dict(cfg: PipelineConfig) -> dict:
    from dataclasses import asdict

    d = asdict(cfg)
    d["prefix_tree"] = {
        ("enable_fuzzy_matching" if k == "enable_fuzzy" else k): v
        for k, v in d.pop("tree").items()
    }
    return d


def save_to_yaml(cfg: PipelineConfig, output_path: str) -> None:
    import yaml

    os.makedirs(os.path.dirname(output_path) or ".", exist_ok=True)
    with open(output_path, "w") as f:
        yaml.dump(to_dict(cfg), f, default_flow_style=False, indent=2)


def load_config(config_path: str | None = None) -> PipelineConfig:
    """Reference load_config priority (config_manager.py:229-270): the
    provided path, then ./config/config.yaml, ./config.yaml; defaults
    otherwise (no API-key requirement — there is no LLM)."""
    if config_path:
        return from_yaml(config_path)
    for candidate in ("config/config.yaml", "config.yaml"):
        if os.path.exists(candidate):
            return from_yaml(candidate)
    return PipelineConfig()
