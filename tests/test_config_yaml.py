"""YAML config loading parity (reference config_manager.py:125-229):
reference-shaped config files load unchanged, ${VAR}/${VAR:default}
interpolation, type coercion, round-trip, CLI wiring."""

import json
import subprocess
import sys

import pytest

from logparser_llm_spark.config import (
    DEFAULT_CONFIG,
    PipelineConfig,
    config_from_dict,
    from_yaml,
    load_config,
    save_to_yaml,
    to_dict,
)


def test_reference_shaped_yaml_loads(tmp_path):
    """The reference repo's own config/config.yaml shape: known sections
    map (prefix_tree→tree with field rename), LLM/cache/performance
    sections are accepted and ignored."""
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        """
llm:
  provider: "openai"
  model: "gpt-4-turbo-preview"
  api_key: "${OPENAI_API_KEY}"
parsing:
  use_cache: true
  similarity_threshold: 0.85
prefix_tree:
  max_depth: 7
  min_cluster_size: 4
  token_delimiter: " "
  enable_fuzzy_matching: false
  fuzzy_threshold: 0.75
merging:
  enable_auto_merge: true
  merge_threshold: 0.92
  max_edit_distance: 2
  check_semantic_similarity: true
preprocessing:
  remove_timestamps: true
  normalize_numbers: false
  remove_duplicates: true
performance:
  max_workers: 4
"""
    )
    cfg = from_yaml(str(cfg_file))
    assert cfg.tree.max_depth == 7
    assert cfg.tree.min_cluster_size == 4
    assert cfg.tree.enable_fuzzy is False
    assert cfg.tree.fuzzy_threshold == 0.75
    assert cfg.merging.merge_threshold == 0.92
    assert cfg.merging.max_edit_distance == 2
    assert cfg.preprocessing.remove_timestamps is True
    assert cfg.preprocessing.normalize_numbers is False
    # untouched sections keep defaults
    assert cfg.scale == DEFAULT_CONFIG.scale
    assert cfg.preprocessing.normalize_paths is True

    # a config written for an older release still sets scale keys that
    # no longer exist: they are ignored like any unknown key
    old_scale = tmp_path / "old_scale.yaml"
    old_scale.write_text(
        """
scale:
  shuffle_partitions: 64
  discovery_partitions: 16
  salt_buckets: 8
  arrow_max_records_per_batch: 5000
  arrow_parity_mode: true
  collect_examples: false
  include_variables: false
"""
    )
    assert from_yaml(str(old_scale)) == DEFAULT_CONFIG


def test_env_var_interpolation(monkeypatch):
    monkeypatch.setenv("FUZZY", "0.65")
    monkeypatch.delenv("NOPE", raising=False)
    cfg = config_from_dict(
        {
            "prefix_tree": {
                "fuzzy_threshold": "${FUZZY}",          # set → substituted + coerced
                "max_depth": "${NOPE:9}",               # unset + default
                "token_delimiter": "${NOPE}",           # unset, no default → literal
            },
            "scale": {"num_sinks": "${NOPE:16}"},
        }
    )
    assert cfg.tree.fuzzy_threshold == 0.65
    assert cfg.tree.max_depth == 9
    assert cfg.tree.token_delimiter == "${NOPE}"
    assert cfg.scale.num_sinks == 16


def test_yaml_roundtrip(tmp_path):
    path = str(tmp_path / "out" / "config.yaml")
    save_to_yaml(DEFAULT_CONFIG, path)
    assert from_yaml(path) == DEFAULT_CONFIG
    d = to_dict(DEFAULT_CONFIG)
    assert "prefix_tree" in d and d["prefix_tree"]["enable_fuzzy_matching"] is True


def test_load_config_default_locations(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert load_config() == PipelineConfig()
    (tmp_path / "config").mkdir()
    (tmp_path / "config" / "config.yaml").write_text("prefix_tree:\n  max_depth: 11\n")
    assert load_config().tree.max_depth == 11
    with pytest.raises(FileNotFoundError):
        load_config("missing.yaml")


def test_main_cli_config_flag(spark, tmp_path):
    """spark-submit users change fuzzy_threshold/num_sinks via --config."""
    from logparser_llm_spark.sources.synth import generate_pages

    src = str(tmp_path / "src")
    generate_pages(spark, 20, seed=14).coalesce(1).write.parquet(src)
    cfg_file = tmp_path / "c.yaml"
    cfg_file.write_text("scale:\n  num_sinks: 3\nprefix_tree:\n  fuzzy_threshold: 0.7\n")
    cmd = [
        sys.executable, "main.py",
        "--input", src, "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--config", str(cfg_file), "--cores", "4",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["processed_files"] == 1
    sink_ids = {
        row["sink_id"]
        for row in spark.read.parquet(str(tmp_path / "out" / "sinks")).select("sink_id").distinct().collect()
    }
    assert sink_ids <= {0, 1, 2}  # md5 fan-out respected num_sinks=3
