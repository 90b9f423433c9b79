"""Config loader parity (Util/Config.py:17-41) + the shared
child-path rule (crawl frontier vs catalog identity keys)."""

import json
import os

import pytest

from file_db_spark.filedb import config
from file_db_spark.filedb.scan import child_path
from file_db_spark.functions.paths import strip_trailing_slashes


def test_load_missing_returns_empty(tmp_path):
    assert config.load_config(str(tmp_path / "nope.json")) == {}


def test_load_invalid_json_returns_empty(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text("{not json")
    assert config.load_config(str(p)) == {}


def test_round_trip(tmp_path):
    p = tmp_path / "config.json"
    config.write_config({"crawl_batch_size": 3, "extra": "x"}, str(p))
    assert config.load_config(str(p)) == {"crawl_batch_size": 3, "extra": "x"}
    text = p.read_text()
    assert json.loads(text) and "\n" in text  # pretty-printed


def test_failed_write_keeps_the_previous_file(tmp_path):
    """A write that dies midway (here: a value json cannot serialize)
    must not leave a truncated file, which would load as {}."""
    p = tmp_path / "config.json"
    config.write_config({"crawl_batch_size": 3}, str(p))
    before = p.read_bytes()
    with pytest.raises(TypeError):
        config.write_config({"crawl_batch_size": object()}, str(p))
    assert p.read_bytes() == before


def test_create_file_touches(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert config.load_config("absent.json", create_file=True) == {}
    # nonexistent explicit path falls back to the default file name,
    # so the default file is what gets touched (reference semantics)
    assert os.path.exists(config.DEFAULT_CONFIG_FILE)


def test_effective_overlay(tmp_path):
    p = tmp_path / "config.json"
    config.write_config({"crawl_batch_size": 99}, str(p))
    eff = config.effective_config(str(p))
    assert eff["crawl_batch_size"] == 99
    assert eff["hash_batch_size"] == config.DEFAULTS["hash_batch_size"]


def test_child_path_roots():
    sep = os.sep
    assert child_path("/", "name") == f"{sep}name"
    # canonical: no doubled separators for trailing-separator parents
    assert child_path("/data/", "x") == f"/data{sep}x"
    assert child_path("/data", "x") == f"/data{sep}x"
    assert "//" not in child_path("/", "x")
    # drive roots keep exactly one separator
    assert child_path("C:\\", "x", sep="\\") == "C:\\x"


def test_child_path_matches_strip_rule():
    for p in ["/a/b/", "/a/b", "///", "C:\\x\\"]:
        assert child_path(p, "n") == strip_trailing_slashes(p) + os.sep + "n"
