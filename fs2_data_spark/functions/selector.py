"""The fs2-data Selector language — parser + evaluator with the reference's
strict/mandatory error semantics.

Grammar (reference ``json/src/main/scala/fs2/data/json/SelectorParser.scala``;
syntax spec ``site/documentation/json/transformations.md``):

- ``.``                      identity (root values)
- ``.f`` / ``.["a", "b"]``   object field(s); document-order values
- ``.[1, 3]`` / ``.[1:4]``   array indices / range (END-EXCLUSIVE, unlike
                             JSONPath's inclusive ranges)
- ``.[]``                    iterator over array elements / object values
- suffix ``!``               mandatory: missing field(s) raise
                             (``JsonMissingFieldException`` analogue)
- suffix ``?``               lenient: wrong container kind skips instead of
                             raising (selectors are STRICT by default —
                             ``NameSelector.strict``, ``selectors.scala:26-80``)
- juxtaposition ``sel1 sel2``  pipe (``PipeSelector``)

The evaluator operates on parsed JSON values (one document per row); the
DataFrame surface ``apply_selector`` emits one row per selected value.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from fs2_data_spark.functions.jsonq import _keep_keys, _render, json_loads_strict


class SelectorError(ValueError):
    """Base of the selector error ADT (reference ``JsonException``)."""


class MissingFieldError(SelectorError):
    """Mandatory field(s) absent (``JsonMissingFieldException``)."""

    def __init__(self, missing: set[str]):
        self.missing = missing
        super().__init__(f"missing mandatory fields: {sorted(missing)}")


class WrongContainerError(SelectorError):
    """Strict selector applied to the wrong container kind."""


@dataclass(frozen=True)
class _Step:
    kind: str                      # this | name | index | range | iterate
    names: tuple[str, ...] = ()
    idxs: tuple[int, ...] = ()
    a: int = 0
    b: int = 0
    strict: bool = True
    mandatory: bool = False


_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_WS = re.compile(r"\s*")


class _Parser:
    def __init__(self, src: str):
        self.src, self.pos = src, 0

    def error(self, what: str):
        raise ValueError(f"selector: expected {what} at {self.pos}: {self.src!r}")

    def suffixes(self, allow_mandatory: bool) -> tuple[bool, bool]:
        mandatory = False
        strict = True
        if allow_mandatory and self.src.startswith("!", self.pos):
            self.pos += 1
            mandatory = True
        if self.src.startswith("?", self.pos):
            self.pos += 1
            strict = False
        return strict, mandatory

    def string(self) -> str:
        m = re.compile(r'"((?:[^"\\]|\\.)*)"').match(self.src, self.pos)
        if not m:
            self.error("string literal")
        self.pos = m.end()
        return json.loads(m.group(0))

    def bracket(self) -> _Step:
        self.pos += 1  # consume [
        self.pos = _WS.match(self.src, self.pos).end()
        if self.src.startswith("]", self.pos):           # .[]
            self.pos += 1
            strict, _ = self.suffixes(False)
            return _Step("iterate", strict=strict)
        if self.src.startswith('"', self.pos):           # .["a", "b"]
            names = [self.string()]
            while True:
                self.pos = _WS.match(self.src, self.pos).end()
                if self.src.startswith(",", self.pos):
                    self.pos += 1
                    self.pos = _WS.match(self.src, self.pos).end()
                    names.append(self.string())
                else:
                    break
            if not self.src.startswith("]", self.pos):
                self.error("]")
            self.pos += 1
            strict, mandatory = self.suffixes(True)
            return _Step("name", names=tuple(names), strict=strict,
                         mandatory=mandatory)
        m = re.compile(r"(-?\d+)\s*(:)?").match(self.src, self.pos)
        if not m:
            self.error("index")
        first = int(m.group(1))
        self.pos = m.end()
        if m.group(2):                                   # .[a:b] end-exclusive
            m2 = re.compile(r"\s*(-?\d+)\s*\]").match(self.src, self.pos)
            if not m2:
                self.error("range end")
            self.pos = m2.end()
            strict, _ = self.suffixes(False)
            return _Step("range", a=first, b=int(m2.group(1)), strict=strict)
        idxs = [first]
        while True:
            self.pos = _WS.match(self.src, self.pos).end()
            if self.src.startswith(",", self.pos):
                self.pos += 1
                m3 = re.compile(r"\s*(-?\d+)").match(self.src, self.pos)
                if not m3:
                    self.error("index")
                idxs.append(int(m3.group(1)))
                self.pos = m3.end()
            else:
                break
        if not self.src.startswith("]", self.pos):
            self.error("]")
        self.pos += 1
        strict, _ = self.suffixes(False)
        return _Step("index", idxs=tuple(idxs), strict=strict)

    def parse(self) -> list[_Step]:
        steps: list[_Step] = []
        while True:
            self.pos = _WS.match(self.src, self.pos).end()
            if self.pos >= len(self.src):
                break
            if not self.src.startswith(".", self.pos):
                self.error("'.'")
            self.pos += 1
            m = _NAME.match(self.src, self.pos)
            if m:                                         # .name
                self.pos = m.end()
                strict, mandatory = self.suffixes(True)
                steps.append(_Step("name", names=(m.group(0),), strict=strict,
                                   mandatory=mandatory))
            elif self.src.startswith("[", self.pos):
                steps.append(self.bracket())
            else:                                         # lone '.'
                steps.append(_Step("this"))
        if not steps:
            raise ValueError("selector: empty input")
        return steps


def parse_selector(src: str) -> list[_Step]:
    return _Parser(src).parse()


def eval_selector(value, steps: list[_Step]) -> list:
    """Selected values, in document order; raises :class:`MissingFieldError`
    / :class:`WrongContainerError` per the reference semantics."""
    vals = [value]
    for s in steps:
        nxt = []
        for v in vals:
            if s.kind == "this":
                nxt.append(v)
            elif s.kind == "name":
                if isinstance(v, dict):
                    if s.mandatory:
                        missing = set(s.names) - set(v)
                        if missing:
                            raise MissingFieldError(missing)
                    wanted = set(s.names)
                    nxt.extend(x for k, x in v.items() if k in wanted)
                elif s.strict:
                    raise WrongContainerError(
                        f"name selector on {type(v).__name__}")
            elif s.kind == "index":
                if isinstance(v, list):
                    wanted = set(s.idxs)
                    nxt.extend(x for i, x in enumerate(v) if i in wanted)
                elif s.strict:
                    raise WrongContainerError(
                        f"index selector on {type(v).__name__}")
            elif s.kind == "range":
                if isinstance(v, list):
                    nxt.extend(v[max(s.a, 0):max(s.b, 0)])  # end-exclusive
                elif s.strict:
                    raise WrongContainerError(
                        f"range selector on {type(v).__name__}")
            else:  # iterate
                if isinstance(v, list):
                    nxt.extend(v)
                elif isinstance(v, dict):
                    nxt.extend(v.values())
                elif s.strict:
                    raise WrongContainerError(
                        f"iterator on {type(v).__name__}")
        vals = nxt
    return vals


def apply_selector(df: DataFrame, col: str, selector: str,
                   keep: list[str] | None = None,
                   mode: str = "strict") -> DataFrame:
    """Run a selector over a JSON string column — one row per selected value
    (ordinal ``match_no``, compact JSON ``value``). strict mode propagates
    selector errors (fail-the-stream); attempt skips failing documents."""
    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    steps = parse_selector(selector)

    def matches(raw):
        return [(j, _render(m)) for j, m in
                enumerate(eval_selector(json_loads_strict(raw), steps))]

    return run_rows(df, matches, [col], "match_no int, value string",
                    keys=_keep_keys(df, col, keep),
                    errors=(SelectorError, ValueError, TypeError),
                    strict=mode == "strict")
