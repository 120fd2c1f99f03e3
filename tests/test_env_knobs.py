"""Environment knobs parse the same way everywhere: a false-looking or
malformed value never switches something on or hides a valid one."""

from __future__ import annotations

import pytest

from conftest import _run_full
from wilayah_aceh_etl_spark.session import _shuffle_partitions


class _Config:
    def __init__(self, full: bool):
        self.full = full

    def getoption(self, name):
        assert name == "--full"
        return self.full


@pytest.mark.parametrize(
    "value, expected",
    [
        (None, False),
        ("", False),
        ("0", False),
        ("false", False),
        ("False", False),
        ("no", False),
        ("1", True),
        ("true", True),
        (" TRUE ", True),
        ("yes", True),
    ],
)
def test_full_tests_env_parses_truthy_words_only(monkeypatch, value, expected):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", value)
    assert _run_full(_Config(False)) is expected
    assert _run_full(_Config(True)) is True


@pytest.mark.parametrize(
    "shuffle, cpus, expected",
    [
        (None, None, 32),
        (None, "6", 6),
        ("12", "6", 12),
        ("", "6", 6),
        ("many", "6", 6),
        ("many", "lots", 32),
        (None, "", 32),
    ],
)
def test_shuffle_partitions_validates_each_env_var(
    monkeypatch, shuffle, cpus, expected
):
    env = {"SPARK_GRAFT_SHUFFLE_PARTITIONS": shuffle, "SPARK_GRAFT_CPUS": cpus}
    for name, value in env.items():
        if value is None:
            monkeypatch.delenv(name, raising=False)
        else:
            monkeypatch.setenv(name, value)
    assert _shuffle_partitions() == expected
