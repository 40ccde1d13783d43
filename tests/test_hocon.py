"""HOCON-subset parser + reference-shape config normalization.

The reference's pipeline specs are HOCON (`configs/cdc-postgres-to-delta
.conf`); these tests cover the syntax subset those files use and the
job-shape aliases (domain/dataset, lakehouse_format, registry_domain)
they rely on.
"""

from __future__ import annotations

import pytest

from lakehouse_ingestion_spark.config import load_config, parse_config
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.hocon import flatten_keys, parse_hocon, unflatten_keys


def test_scalars_and_coercion():
    obj = parse_hocon(
        """
        a = "quoted"
        b = bare string
        c = 42
        d = 3.5
        e = true
        f = false
        g = null
        """
    )
    assert obj == {
        "a": "quoted",
        "b": "bare string",
        "c": 42,
        "d": 3.5,
        "e": True,
        "f": False,
        "g": None,
    }


def test_comments_nested_objects_and_colon():
    obj = parse_hocon(
        """
        # hash comment
        // slash comment
        outer {
          inner = 1   # trailing comment
          deeper { x : "y" }
        }
        """
    )
    assert obj == {"outer": {"inner": 1, "deeper": {"x": "y"}}}


def test_dotted_keys_expand_and_merge():
    obj = parse_hocon(
        """
        kafka.security.protocol = "PLAINTEXT"
        kafka.security.mechanism = "PLAIN"
        kafka { group.id = "g1" }
        """
    )
    assert obj["kafka"]["security"] == {
        "protocol": "PLAINTEXT",
        "mechanism": "PLAIN",
    }
    assert obj["kafka"]["group"]["id"] == "g1"
    assert flatten_keys(obj) == {
        "kafka.security.protocol": "PLAINTEXT",
        "kafka.security.mechanism": "PLAIN",
        "kafka.group.id": "g1",
    }


def test_arrays_scalar_and_object():
    obj = parse_hocon(
        """
        empty = []
        nums = [1, 2, 3]
        multiline = [
          "a"
          "b",
        ]
        jobs = [
          { name = "j1" },
          { name = "j2" }
        ]
        """
    )
    assert obj["empty"] == []
    assert obj["nums"] == [1, 2, 3]
    assert obj["multiline"] == ["a", "b"]
    assert [j["name"] for j in obj["jobs"]] == ["j1", "j2"]


@pytest.mark.parametrize(
    "bad",
    [
        "a = ${ref}",
        'a = """x"""',
        "a = { b = 1",
        "a = [1, 2",
        'a = "unterminated',
        "= 3",
    ],
)
def test_errors_are_loud(bad):
    with pytest.raises(ConfigError):
        parse_hocon(bad)


def test_reference_shaped_conf_loads(tmp_path):
    """A job written the reference's way (domain/dataset, nested kafka
    option keys, lakehouse_format target, registry_* schema keys) loads
    into the canonical model."""
    conf = """
env = "dev"

jobs = [
  {
    domain = "music_school"
    dataset = "cdc"

    source = {
      type = "kafka"
      options = {
        bootstrap.servers = "broker:9092"
        subscribe = "postgres_cdc_music_school_db"
        streaming = "true"
        startingOffsets = "earliest"
        kafka.security.protocol = "PLAINTEXT"
        maxOffsetsPerTrigger = "10000"
      }
    }

    target = {
      table = "s3a://lakehouse/bronze/music_school/cdc/"
      lakehouse_format = "delta"
      catalog = "hive"
      layer = "bronze"
      partitions = []
    }

    data_quality = {
      on_fail = "LOG_ONLY"
    }
  }
]
"""
    p = tmp_path / "pipe.conf"
    p.write_text(conf)
    cfg = load_config(p)
    assert cfg.env == "dev"
    [job] = cfg.jobs
    assert job.name == "music_school_cdc"
    assert job.layer == "bronze"
    assert job.source.type == "kafka"
    # dotted HOCON keys land flat again, Spark-option style
    assert job.source.options["bootstrap.servers"] == "broker:9092"
    assert job.source.options["kafka.security.protocol"] == "PLAINTEXT"
    assert job.target.format == "delta"
    # a URI-valued reference `table` is a LOCATION: it must land on the
    # path option (saveAsTable on an s3a:// string crashes at write time)
    assert job.target.options["path"].startswith("s3a://")
    assert "table" not in job.target.options
    # reference `partitions` is the canonical partition_by
    assert job.target.options["partition_by"] == []
    assert job.data_quality.on_fail.value == "LOG_ONLY"


def test_canonical_keys_win_over_aliases():
    raw = {
        "env": "dev",
        "jobs": [
            {
                "name": "explicit",
                "domain": "ignored",
                "dataset": "ignored",
                "source": {"type": "parquet", "options": {"path": "/x"}},
                "target": {"format": "parquet", "options": {"path": "/y"}},
            }
        ],
    }
    cfg = parse_config(raw)
    assert cfg.jobs[0].name == "explicit"
    assert cfg.jobs[0].target.format == "parquet"


def test_quoted_keys_stay_literal():
    """HOCON quoted keys are ONE path segment — no dot expansion."""
    assert parse_hocon('"bootstrap.servers" = "b:9092"') == {
        "bootstrap.servers": "b:9092"
    }
    # mixed: unquoted dotted expands, quoted sibling does not
    out = parse_hocon('a.b = 1\n"a.b" = 2')
    assert out == {"a": {"b": 1}, "a.b": 2}


def test_reference_table_vs_catalog_table():
    """A non-URI reference `table` stays a catalog table identifier."""
    raw = {
        "jobs": [
            {
                "domain": "d",
                "dataset": "s",
                "source": {"type": "parquet", "options": {"path": "/in"}},
                "target": {
                    "lakehouse_format": "delta",
                    "table": "bronze.events",
                    "partitions": ["event_date"],
                },
            }
        ]
    }
    cfg = parse_config(raw)
    opts = cfg.jobs[0].target.options
    assert opts["table"] == "bronze.events"
    assert "path" not in opts
    assert opts["partition_by"] == ["event_date"]


def test_target_options_reflattened():
    """Dotted keys inside target.options come back flat, like source's."""
    raw = {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/in"}},
                "target": {
                    "format": "delta",
                    "options": {"path": "/out", "delta": {"appendOnly": "true"}},
                },
            }
        ]
    }
    cfg = parse_config(raw)
    assert cfg.jobs[0].target.options["delta.appendOnly"] == "true"


def test_unflatten_keys_inverts_flatten_for_mapping_options():
    opts = {"path": "/out", "kafka.bootstrap.servers": "h:1",
            "budgets": {"wiki": 5, "en.web": 3},
            "sinks": {"a": {"path": "/a", "where": "x > 1"}}}
    flat = flatten_keys(opts)
    assert flat["budgets.en.web"] == 3
    # only the named mapping keys are nested again; later dots stay in
    # the innermost key, and Kafka-style dotted scalars stay flat
    back = unflatten_keys(flat, ("budgets",))
    assert back["budgets"] == {"wiki": 5, "en.web": 3}
    assert back["kafka.bootstrap.servers"] == "h:1"
    assert "sinks.a.path" in back
    assert unflatten_keys(flat, ("sinks",), depth=2)["sinks"] == opts["sinks"]
    # a mapping given nested wins over stray dotted entries
    assert unflatten_keys({"p": {"en": 0.5}, "p.de": 0.1}, ("p",)) == {"p": {"en": 0.5}}
    assert unflatten_keys({"k": 1}, ("p",)) == {"k": 1}
