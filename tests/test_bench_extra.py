"""SPARK_GRAFT_EXTRA_CONF parsing for the per-query probe harness."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench_extra import parse_extra_conf  # noqa: E402


def test_semicolon_entries_keep_commas_in_values():
    conf = parse_extra_conf(
        "spark.driver.extraJavaOptions=-Da=1,-Db=2; spark.sql.shuffle.partitions=8;"
    )
    assert conf == {
        "spark.driver.extraJavaOptions": "-Da=1,-Db=2",
        "spark.sql.shuffle.partitions": "8",
    }


def test_empty_spec_is_no_conf():
    assert parse_extra_conf("") == {}
    assert parse_extra_conf(" ; ") == {}


@pytest.mark.parametrize("bad", ["spark.sql.foo", "=8", "a=1;oops"])
def test_malformed_entry_raises(bad):
    with pytest.raises(ValueError, match="key=value"):
        parse_extra_conf(bad)
