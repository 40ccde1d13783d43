"""Config loading (config.py): every shipped example loads, and a spec
that can never run fails at load with a ConfigError, not mid-run."""

from __future__ import annotations

from pathlib import Path

import pytest

from lakehouse_ingestion_spark.config import load_config, parse_config
from lakehouse_ingestion_spark.errors import ConfigError

REPO = Path(__file__).resolve().parent.parent
SHIPPED = sorted(
    p.name for p in (REPO / "configs").iterdir() if p.suffix in (".yaml", ".conf")
)


def test_configs_dir_is_not_empty():
    assert any(n.endswith(".yaml") for n in SHIPPED)
    assert any(n.endswith(".conf") for n in SHIPPED)


@pytest.mark.parametrize("name", SHIPPED)
def test_shipped_config_loads(name, monkeypatch):
    # registry paths in the examples are relative to the repo root
    monkeypatch.chdir(REPO)
    cfg = load_config(f"configs/{name}")
    assert cfg.jobs


def _job(**transform):
    return {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
                "transforms": [transform],
                "target": {"format": "parquet", "options": {"path": "/tmp/o"}},
            }
        ]
    }


def test_missing_required_transform_option_fails_at_load():
    # hash_sample without its fraction used to load and then KeyError
    # when the job ran
    with pytest.raises(ConfigError, match=r"job 'j'.*missing.*'fraction'"):
        parse_config(_job(op="hash_sample", key="doc_id"))
    parse_config(_job(op="hash_sample", key="doc_id", fraction=0.5))


def test_missing_required_check_option_fails_at_load():
    raw = _job(op="filter", predicate="true")
    raw["jobs"][0]["data_quality"] = {"checks": [{"type": "regex", "column": "c"}]}
    with pytest.raises(ConfigError, match=r"job 'j'.*missing.*'pattern'"):
        parse_config(raw)


def test_uncoercible_option_fails_at_load():
    with pytest.raises(ConfigError, match=r"'fraction' for transform op 'hash_sample'"):
        parse_config(_job(op="hash_sample", key="doc_id", fraction="half"))
