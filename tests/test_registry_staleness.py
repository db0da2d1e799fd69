"""The driver samples a prefix of the registry order each round, so the
order must retire the oldest correctness debt first: forced keys, then
keys no round has sampled, then the stalest rounds. registry.sample_order
computes it from the committed CORRECTNESS_r<N>.json files."""

from __future__ import annotations

import json

from cdc_debezium_spark import registry
from cdc_debezium_spark.registry import sample_order

# last sampled: a=r1, b=r2, d=r2, c=r3, e=r3
ROUNDS = {1: {"a", "b", "c"}, 2: {"b", "d"}, 3: {"c", "e"}}
KEYS = ["e", "z", "d", "c", "y", "b", "a"]


def test_forced_keys_first():
    assert sample_order(KEYS, ROUNDS, {"e", "c", "unregistered"})[:2] == ["c", "e"]


def test_never_sampled_keys_next():
    assert sample_order(KEYS, ROUNDS, {"e"})[:3] == ["e", "y", "z"]


def test_stalest_round_next_ties_by_name():
    assert sample_order(KEYS, ROUNDS, set()) == ["y", "z", "a", "b", "d", "c", "e"]


def test_sampled_rounds_reads_correctness_files(tmp_path):
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"b": {}, "d": {}}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"c": {}}))
    (tmp_path / "CORRECTNESS_r11.json").write_text("{not json")
    assert registry.sampled_rounds(str(tmp_path)) == {2: {"b", "d"}, 10: {"c"}}


def test_load_all_applies_sample_order():
    registry.load_all()
    expected = sample_order(
        registry.QUERIES, registry.sampled_rounds(), registry._RESAMPLE_FORCED
    )
    assert list(registry.QUERIES) == expected
    assert list(registry.ORACLES) == expected
