"""Config-file font surface (the reference's per-font HOCON analogue,
configuration/HOCONFontConfiguration.java:95-170 + resources/fonts/*.conf):
similarity sets, merge-rule list/order, ratio weights, and special spaces
load from a JSON file shipped next to the trained tables — and overriding
them observably changes recognition behavior, no code edits."""

import dataclasses

import numpy as np
import pytest

from newocr_spark.kernel.grid import binarize
from newocr_spark.kernel.scan import render_text, scan_grid
from newocr_spark.font.render import render_text_image
from newocr_spark.model import DEFAULT_MERGE_RULES, FontConfig


@pytest.fixture()
def model():
    from newocr_spark.artifacts import get_model

    return get_model()


def _scan_with_config(model, config, text="i like jam; really!"):
    patched = dataclasses.replace(model)  # fresh FontModel, swapped config
    patched.config = config
    patched.__post_init__()
    img = render_text_image([text], scale=2)
    return render_text(scan_grid(binarize(img), patched))


def test_roundtrip_file(tmp_path):
    cfg = FontConfig(
        name="Custom",
        special_spaces=frozenset({"`", "~"}),
        size_ratio_weight=2.5,
        specific_ratio_weights={("w", 0): 1.5},
        merge_rules=("OverDotMergeRule",),
    )
    p = str(tmp_path / "font_config.json")
    cfg.to_file(p)
    assert FontConfig.from_file(p) == cfg


def test_model_save_load_carries_config(tmp_path, model):
    d = str(tmp_path / "model_dir")
    patched = dataclasses.replace(model)
    patched.config = dataclasses.replace(
        model.config, merge_rules=("UnderDotMergeRule", "OverDotMergeRule")
    )
    patched.save(d)
    from newocr_spark.model import FontModel

    loaded = FontModel.load(d)  # no explicit config: comes from the file
    assert loaded.config.merge_rules == ("UnderDotMergeRule", "OverDotMergeRule")


def test_default_config_recognizes(model):
    got = _scan_with_config(model, model.config)
    assert got == "i like jam; really!"


def test_dropping_overdot_rule_changes_merges(model):
    """Without OverDotMergeRule, i/j dots never merge with their stems —
    the cleanup pass (M6) then re-resolves the orphaned pieces, so the
    recognized text must differ from the exact rendering."""
    cfg = dataclasses.replace(
        model.config,
        merge_rules=tuple(r for r in DEFAULT_MERGE_RULES if r != "OverDotMergeRule"),
    )
    got = _scan_with_config(model, cfg)
    assert got != "i like jam; really!"


def test_similarity_override_changes_merges(model):
    """Emptying the 'dot' similarity set via config disables every
    dot-driven merge (i/j/;/!) even with all rules registered — the
    config-driven similarity surface, not code, decides membership."""
    sims = dict(model.config.similarities)
    sims["dot"] = frozenset()
    cfg = dataclasses.replace(model.config, similarities=sims)
    got = _scan_with_config(model, cfg)
    assert got != "i like jam; really!"


def test_unknown_rule_name_raises(model):
    cfg = dataclasses.replace(model.config, merge_rules=("NoSuchRule",))
    with pytest.raises(KeyError):
        _scan_with_config(model, cfg)


def test_shipped_fonts_load_from_files():
    import os

    from newocr_spark import artifacts

    for name, d in artifacts._DIRS.items():
        path = os.path.join(d, "font_config.json")
        assert os.path.exists(path), f"{name} missing font_config.json"
        cfg = FontConfig.from_file(path)
        assert cfg.name == name
        assert cfg.merge_rules == DEFAULT_MERGE_RULES


def test_ratio_weight_override_applies(model):
    patched = dataclasses.replace(model)
    patched.config = dataclasses.replace(
        model.config, specific_ratio_weights={("W", 0): 3.0}
    )
    patched.__post_init__()
    i = patched.row("W", 0)
    base = model.config.size_ratio_weight
    assert patched.ratio_weights[i] == base * 3.0
    j = patched.row("A", 0)
    assert patched.ratio_weights[j] == base


def test_glyph_cache_keys_on_model_content(model, monkeypatch):
    """A model with another config must not reuse the base model's cached
    rankings, even though ``dataclasses.replace`` shares its arrays: with
    ``size_ratio_weight=0`` a scan after the base model warmed the cache
    reads what it reads from a cold cache."""
    from collections import OrderedDict

    from newocr_spark.kernel import scan

    cfg = dataclasses.replace(model.config, size_ratio_weight=0.0)
    monkeypatch.setattr(scan, "_CAND_CACHE", OrderedDict())
    cold = _scan_with_config(model, cfg)
    monkeypatch.setattr(scan, "_CAND_CACHE", OrderedDict())
    assert _scan_with_config(model, model.config) == "i like jam; really!"
    warm = _scan_with_config(model, cfg)
    assert warm == cold
