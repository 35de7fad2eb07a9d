from __future__ import annotations

import os

import pytest

from tesseract_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    ("phys_bytes", "expected"),
    [
        (16 * GIB, "8192m"),  # half of a 16 GB machine
        (15 * GIB + 700 * (1 << 20), "8030m"),  # rounds down to whole MiB
        (32 * GIB, "16384m"),  # half reaches the cap exactly
        (128 * GIB, "16384m"),  # capped at 16g
        (0, "16g"),  # unreadable: the old fixed default
    ],
)
def test_default_driver_memory_is_half_of_physical_capped(monkeypatch, phys_bytes, expected):
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: values[name])
    assert session._default_driver_memory() == expected


def test_default_driver_memory_falls_back_when_sysconf_fails(monkeypatch):
    def broken(name):
        raise ValueError(f"unrecognized configuration name {name}")

    monkeypatch.setattr(os, "sysconf", broken)
    assert session._default_driver_memory() == "16g"


def test_session_uses_env_or_computed_driver_memory(spark):
    expected = os.environ.get("SPARK_DRIVER_MEMORY", session._default_driver_memory())
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
