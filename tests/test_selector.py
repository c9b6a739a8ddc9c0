"""Selector-language golden tests, mirroring the reference
``json/src/test/scala/fs2/data/json/JsonSelectorSpec.scala`` cases (mandatory
fields, nested mandatory, multi-field) plus the documented syntax matrix
(``site/documentation/json/transformations.md``)."""

import json

import pytest

from fs2_data_spark.functions.selector import (
    MissingFieldError,
    WrongContainerError,
    apply_selector,
    eval_selector,
    parse_selector,
)


def sel(doc, selector):
    return eval_selector(json.loads(doc), parse_selector(selector))


# ----- JsonSelectorSpec ports ------------------------------------------------

def test_mandatory_missing_single():
    with pytest.raises(MissingFieldError) as e:
        sel('{"other-field": true}', ".field!")
    assert e.value.missing == {"field"}


def test_mandatory_at_least_one_missing():
    with pytest.raises(MissingFieldError) as e:
        sel('{"field2": true}', '.["field1", "field2", "field3"]!')
    assert e.value.missing == {"field1", "field3"}


def test_mandatory_missing_nested():
    with pytest.raises(MissingFieldError) as e:
        sel('[{"other-field": true}]', ".[].field!")
    assert e.value.missing == {"field"}


def test_mandatory_outermost_error_first():
    with pytest.raises(MissingFieldError) as e:
        sel('{"other-field": {}}', ".field1!.field2!")
    assert e.value.missing == {"field1"}


def test_mandatory_all_present_succeeds():
    doc = '{"field2": true, "field1": "test", "other-field": null, "field3": 1}'
    out = sel(doc, '.["field1", "field2", "field3"]!')
    # document order, not selector order
    assert out == [True, "test", 1]


# ----- syntax matrix ----------------------------------------------------------

DOC = '{"a": {"b": [10, 20, 30, 40]}, "s": "x"}'


def test_identity_and_pipe():
    assert sel(DOC, ".") == [json.loads(DOC)]
    assert sel(DOC, ".a .b") == [[10, 20, 30, 40]]
    assert sel(DOC, ".a.b.[]") == [10, 20, 30, 40]


def test_strict_default_wrong_container_raises():
    with pytest.raises(WrongContainerError):
        sel(DOC, ".s.b")         # name selector on a string
    with pytest.raises(WrongContainerError):
        sel(DOC, ".a.[0]")       # index selector on an object
    with pytest.raises(WrongContainerError):
        sel(DOC, ".s.[]")        # iterator on a string


def test_lenient_suffix_skips():
    assert sel(DOC, ".s.b?") == []
    assert sel(DOC, ".a.[0]?") == []
    assert sel(DOC, ".s.[]?") == []
    # combined !? on an actual object still enforces mandatory
    with pytest.raises(MissingFieldError):
        sel(DOC, ".a.zz!?")
    assert sel('"scalar"', ".zz!?") == []  # not an object: lenient skip


def test_indices_and_exclusive_range():
    assert sel(DOC, ".a.b.[1, 3]") == [20, 40]
    assert sel(DOC, ".a.b.[1:3]") == [20, 30]   # END-EXCLUSIVE
    assert sel(DOC, ".a.b.[2:99]") == [30, 40]


def test_iterator_over_object_values():
    assert sel('{"k1": 1, "k2": 2}', ".[]") == [1, 2]


def test_parse_errors():
    for bad in ("", "field", ".[", '.["a"', ".[1:]", ".a!!"):
        with pytest.raises(ValueError):
            parse_selector(bad)


# ----- DataFrame surface -------------------------------------------------------

def test_apply_selector_dataframe(spark):
    df = spark.createDataFrame(
        [(1, '{"f": [5, 6]}'), (2, '{"g": 0}')], "id int, js string")
    out = apply_selector(df, "js", ".f?.[]", mode="strict").collect()
    assert sorted((r.id, r.match_no, r.value) for r in out) == [
        (1, 0, "5"), (1, 1, "6")]
    # mandatory failure fails the job in strict mode, skips in attempt
    with pytest.raises(Exception):
        apply_selector(df, "js", ".f!", mode="strict").collect()
    out2 = apply_selector(df, "js", ".f!", mode="attempt").collect()
    assert [(r.id, r.value) for r in out2] == [(1, "[5,6]")]
