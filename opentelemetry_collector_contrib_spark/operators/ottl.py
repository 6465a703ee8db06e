"""OTTL-lite: compile OTTL-style statement strings to Catalyst columns.

The reference's transformation language (pkg/ottl; grammar in
pkg/ottl/grammar.go, spec pkg/ottl/LANGUAGE.md) drives the transform
processor: ``editor(args...) [where bool_expr]`` applied per record, in
order, with an error mode (pkg/ottl/parser.go:356-371). This module
re-expresses that contract Spark-first:

  * statements are parsed ONCE on the driver by a small recursive-descent
    parser (the analog of the participle parser at parser.go:236-241);
  * each statement compiles to a Column transformation — execution is
    whole-stage-codegen'd, never per-record interpretation;
  * ``where`` gating = ``F.when(cond, new).otherwise(old)`` exactly as the
    transform processor leaves non-matching records untouched;
  * error modes (config.go:14-16): ``propagate`` uses plain casts (a bad
    value fails the job), ``ignore``/``silent`` use try_-variants so bad
    values become null and flow on — the columnar analog of skipping the
    failed statement for that record.

Paths resolve against the flat transcript model: ``body`` -> text column,
``attributes["k"]``/bare identifiers -> top-level columns (SURVEY.md §1.3
maps promoted typed columns over MapType on purpose).

Supported editors (ottlfuncs/functions.go:12-26): set, delete_key,
delete_matching_keys, keep_keys, keep_matching_keys, replace_pattern,
replace_all_patterns, replace_match, replace_all_matches, merge_maps,
truncate_all, limit (+priority_keys), append, flatten (map; prefix +
depth, compile-time dtype recursion). Converters: see CONVERTERS below
(string/math/time/duration/hash families, ExtractPatterns, IsMatch,
ParseCSV/ParseXML/ParseSimplifiedXML, SliceToMap, ToKeyValueString,
FNV/Murmur3Hash128 via Arrow UDFs, ...).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .parsers import strptime_to_java
from .useragent import user_agent_map
from .udf_converters import (
    convert_attributes_to_elements_xml_udf,
    convert_text_to_elements_xml_udf,
    fnv64a_udf,
    get_xml_udf,
    insert_xml_udf,
    murmur3_128_udf,
    murmur3_32_udf,
    parse_simplified_xml_udf,
    parse_xml_udf,
    remove_xml_udf,
)

__all__ = [
    "compile_statement",
    "apply_statements",
    "compile_condition",
    "Statement",
    "CONVERTERS",
]


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<number>-?\d+\.\d+|-?\d+)
  | (?P<op>==|!=|>=|<=|=|\+|\-|\*|/|>|<|\(|\)|\[|\]|,|\.)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise ValueError(f"OTTL syntax error at {s[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind != "ws":
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class Path:
    parts: list[str]  # e.g. ["attributes", "foo"] or ["body"]

    def column_name(self) -> str:
        # flat model: body -> text; attributes["k"]/resource.k -> k
        if self.parts == ["body"]:
            return "text"
        if self.parts[0] in ("attributes", "resource", "cache") and len(self.parts) > 1:
            return self.parts[-1]
        return ".".join(self.parts)


@dataclass
class Call:
    name: str
    args: list
    kwargs: dict | None = None  # OTTL named args, e.g. flatten(m, depth=1)

@dataclass
class Lit:
    value: object

@dataclass
class ListExpr:
    items: list

@dataclass
class BinOp:
    op: str
    left: object
    right: object


@dataclass
class Statement:
    """One parsed `editor(args) [where cond]` statement."""

    editor: Call
    where: object | None
    text: str


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val: str):
        k, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")

    # expr := or_expr
    def parse_expr(self):
        return self._or()

    def _or(self):
        left = self._and()
        while self.peek()[1] == "or":
            self.next()
            left = BinOp("or", left, self._and())
        return left

    def _and(self):
        left = self._not()
        while self.peek()[1] == "and":
            self.next()
            left = BinOp("and", left, self._not())
        return left

    def _not(self):
        if self.peek()[1] == "not":
            self.next()
            return Call("not", [self._not()])
        return self._cmp()

    def _cmp(self):
        left = self._add()
        if self.peek()[1] in ("==", "!=", ">", "<", ">=", "<="):
            op = self.next()[1]
            return BinOp(op, left, self._add())
        return left

    def _add(self):
        left = self._mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            left = BinOp(op, left, self._mul())
        return left

    def _mul(self):
        left = self._atom()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            left = BinOp(op, left, self._atom())
        return left

    def _atom(self):
        kind, val = self.peek()
        if val == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        if val == "[":
            self.next()
            items = []
            if self.peek()[1] != "]":
                items.append(self.parse_expr())
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.parse_expr())
            self.expect("]")
            return ListExpr(items)
        if kind == "string":
            self.next()
            raw = val[1:-1]
            return Lit(raw.replace('\\"', '"').replace("\\'", "'").replace("\\\\", "\\"))
        if kind == "number":
            self.next()
            return Lit(float(val) if "." in val else int(val))
        if kind == "ident":
            self.next()
            if val == "true":
                return Lit(True)
            if val == "false":
                return Lit(False)
            if val == "nil":
                return Lit(None)
            # function call?  args may include OTTL named arguments
            # (grammar.go argument: `name = value`, e2e corpus uses
            # flatten(m, depth=1), append(x, values=[...]))
            if self.peek()[1] == "(":
                self.next()
                args, kwargs = [], {}

                def one_arg():
                    if (
                        self.peek()[0] == "ident"
                        and self.toks[self.i + 1][1] == "="
                    ):
                        name = self.next()[1]
                        self.expect("=")
                        kwargs[name] = self.parse_expr()
                    else:
                        args.append(self.parse_expr())

                if self.peek()[1] != ")":
                    one_arg()
                    while self.peek()[1] == ",":
                        self.next()
                        one_arg()
                self.expect(")")
                return Call(val, args, kwargs or None)
            # path: ident(.ident | ["key"])*
            parts = [val]
            while True:
                if self.peek()[1] == ".":
                    self.next()
                    parts.append(self.next()[1])
                elif self.peek()[1] == "[":
                    self.next()
                    k = self.next()
                    if k[0] != "string":
                        raise ValueError("only string map keys supported")
                    parts.append(k[1][1:-1])
                    self.expect("]")
                else:
                    break
            return Path(parts)
        raise ValueError(f"unexpected token {val!r}")


def _parse(stmt: str) -> Statement:
    # split on a top-level ` where ` (the grammar allows only one)
    tokens = _tokenize(stmt)
    p = _Parser(tokens)
    editor = p.parse_expr()
    if not isinstance(editor, Call):
        raise ValueError(f"statement must start with an editor call: {stmt!r}")
    where = None
    if p.peek()[1] == "where":
        p.next()
        where = p.parse_expr()
    if p.peek()[0] != "eof":
        raise ValueError(f"trailing tokens in {stmt!r}")
    return Statement(editor, where, stmt)


# ---------------------------------------------------------------------------
# converter registry (pure functions; pkg/ottl/ottlfuncs/functions.go:36-120)
# ---------------------------------------------------------------------------

def _extract_patterns(col: Column, pattern: str) -> Column:
    """ExtractPatterns (func_extract_patterns.go:35-75): named groups ->
    map; empty map when no match. Accepts Python/grok `(?P<name>)` group
    syntax and translates to Java's `(?<name>)` for the JVM regex."""
    compiled = re.compile(pattern)
    groups = sorted(compiled.groupindex.items(), key=lambda kv: kv[1])
    if not groups:
        raise ValueError("ExtractPatterns requires named capture groups")
    jpattern = pattern.replace("(?P<", "(?<")
    entries = []
    for name, idx in groups:
        entries.append(F.lit(name))
        entries.append(F.regexp_extract(col, jpattern, idx))
    m = F.create_map(*entries)
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    return F.when(col.rlike(jpattern), m).otherwise(empty)


# Go time.ParseDuration (func_duration.go:32-44): "1h30m15.5s" etc.
# Decomposed JVM-side: regexp_extract_all the (value, unit) segments and
# fold them into nanoseconds with one aggregate — no Python.
_DUR_SEG = r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)"


def _duration_nanos(x: Column) -> Column:
    segs = F.regexp_extract_all(x, F.lit(_DUR_SEG), F.lit(0))

    def mult(s: Column) -> Column:
        # order matters: ns/us/ms before bare s; s before m (so "ms"
        # can't fall through to "s", "5m" can't match "s")
        return (
            F.when(s.endswith("ns"), F.lit(1.0))
            .when(s.endswith("us") | s.endswith("µs"), F.lit(1e3))
            .when(s.endswith("ms"), F.lit(1e6))
            .when(s.endswith("s"), F.lit(1e9))
            .when(s.endswith("m"), F.lit(6e10))
            .otherwise(F.lit(3.6e12))
        )

    total = F.aggregate(
        segs,
        F.lit(0.0),
        lambda acc, s: acc + F.regexp_extract(s, _DUR_SEG, 1).cast("double") * mult(s),
    )
    signed = F.when(x.startswith("-"), -total).otherwise(total)
    # Go errors on a unit-less/invalid/partially-valid string ("5s junk",
    # "1h-30m"): error-channel analog = null. Strict full-match: removing
    # every valid segment must leave only an optional leading sign.
    unsigned = F.regexp_replace(x, r"^[+-]", "")
    covered = F.regexp_replace(unsigned, F.lit(_DUR_SEG), F.lit("")) == ""
    # time.ParseDuration special-cases bare "0" (no unit) as valid
    zero = unsigned == "0"
    return (
        F.when(zero, F.lit(0).cast("long"))
        .when((F.size(segs) > 0) & covered, signed.cast("long"))
        .otherwise(F.lit(None).cast("long"))
    )


def _ns_to_us(c: Column) -> Column:
    """Nanoseconds -> microseconds via exact decimal floor division: a
    double divide then cast('long') truncates toward zero (negative
    sub-µs residue lands 1µs high vs Go's exact ns arithmetic) and
    loses precision past 2^53 ns; decimal division + floor is exact
    over the full int64 range."""
    return F.floor(c.cast("decimal(38,0)") / F.lit(1000)).cast("long")


def _decode(x: Column, enc) -> Column:
    """Decode (func_decode.go:35-80): base64 + IANA charsets. The flat
    string model already holds utf-8, so charset decodes that land on
    utf-8/ascii are identity; others are compile-time errors."""
    e = enc._lit.lower()
    if e == "base64":
        return F.unbase64(x).cast("string")
    if e == "hex":
        return F.unhex(x).cast("string")
    if e in ("us-ascii", "ascii", "utf-8", "utf8"):
        return x.cast("string")
    raise ValueError(f"Decode: unsupported encoding {e!r}")


def _parse_csv(x: Column, headers, delim=None, hdelim=None, mode=None) -> Column:
    """ParseCSV (func_parse_csv.go): one CSV row -> map keyed by headers.
    Quoted fields (including embedded delimiters) handled by the JVM
    from_csv parser; mode=ignoreQuotes disables quote interpretation."""
    d = delim._lit if delim is not None else ","
    hd = hdelim._lit if hdelim is not None else ","
    hs = headers._lit.split(hd)
    schema = ", ".join(f"`_c{i}` STRING" for i in range(len(hs)))
    opts = {"sep": d}
    if mode is not None and mode._lit == "ignoreQuotes":
        opts["quote"] = ""  # empty quote char disables quoting
    parsed = F.from_csv(x, schema, opts)
    return F.map_from_arrays(
        F.array(*[F.lit(h) for h in hs]),
        F.array(*[parsed.getField(f"_c{i}") for i in range(len(hs))]),
    )


def _slice_to_map(arr: Column, key, value=None) -> Column:
    """SliceToMap (func_slice_to_map.go:33-90): array of maps -> map
    keyed by each element's ``key`` entry. Without a value path the
    element itself is the value (map<string,map<...>>); elements missing
    the key are dropped (the reference errors — error-channel analog)."""
    k = key._lit
    eligible = F.filter(arr, lambda e: e[k].isNotNull())
    if value is None:
        entries = F.transform(
            eligible, lambda e: F.struct(e[k].alias("key"), e.alias("value"))
        )
    else:
        v = value._lit
        entries = F.transform(
            eligible, lambda e: F.struct(e[k].alias("key"), e[v].alias("value"))
        )
    return F.map_from_entries(entries)


def _to_kv_string(m: Column, delim=None, pair_delim=None, sort_output=None) -> Column:
    """ToKeyValueString (func_to_key_value_string.go:39-121): map ->
    "k=v k2=v2"; values containing a delimiter are escaped+quoted."""
    d = delim._lit if delim is not None else "="
    p = pair_delim._lit if pair_delim is not None else " "
    if not d or not p or d == p:
        raise ValueError("ToKeyValueString: invalid delimiters")

    def esc(c: Column) -> Column:
        # escaping is unconditional, quoting only when a delimiter is
        # present (escapeAndQuoteKV, func_to_key_value_string.go:109-121);
        # null values render as empty (pcommon AsString of empty value)
        c = F.regexp_replace(F.coalesce(c, F.lit("")), '"', '\\\\"')
        need = c.contains(d) | c.contains(p)
        return F.when(need, F.concat(F.lit('"'), c, F.lit('"'))).otherwise(c)

    entries = F.map_entries(m)
    if sort_output is not None and sort_output._lit:
        entries = F.array_sort(entries)  # struct sort: key is first field
    parts = F.transform(entries, lambda e: F.concat(esc(e["key"]), F.lit(d), esc(e["value"])))
    return F.array_join(parts, p)


def _to_snake(x: Column) -> Column:
    return F.lower(
        F.regexp_replace(
            F.regexp_replace(x, r"([a-z0-9])([A-Z])", r"$1_$2"), r"[\s-]+", "_"
        )
    )


def _to_camel(x: Column) -> Column:
    return F.concat_ws(
        "",
        F.transform(
            F.split(x, "[_ -]+"),
            lambda w: F.concat(
                F.upper(w.substr(F.lit(1), F.lit(1))),
                w.substr(F.lit(2), F.length(w)),
            ),
        ),
    )


CONVERTERS: dict[str, callable] = {
    # string — Concat(values[], delimiter) per ottlfuncs/func_concat.go
    "Concat": lambda vals, sep: F.concat_ws(sep._lit, *vals),
    "Split": lambda x, sep: F.split(x, re.escape(sep._lit)),
    # Trim(target [, cutset]) — optional trim string (func_trim.go)
    "Trim": lambda x, cut=None: (
        F.trim(x) if cut is None else F.trim(x, F.lit(cut._lit))
    ),
    "ToUpperCase": lambda x: F.upper(x),
    "ToLowerCase": lambda x: F.lower(x),
    "ToSnakeCase": lambda x: _to_snake(x),
    "ToCamelCase": lambda x: _to_camel(x),
    # generic dispatch form (func_convert_case.go: upper/lower/snake/camel)
    "ConvertCase": lambda x, case: {
        "upper": F.upper,
        "lower": F.lower,
        "snake": _to_snake,
        "camel": _to_camel,
    }[case._lit](x),
    "Len": lambda x: F.length(x),
    "Format": lambda fmt, vals: F.format_string(fmt._lit, *vals),
    "Base64Decode": lambda x: F.unbase64(x).cast("string"),
    "Decode": _decode,
    "Hex": lambda x: F.hex(x),
    "ToKeyValueString": _to_kv_string,
    # collection
    "Sort": lambda x: F.array_sort(x),
    "SliceToMap": _slice_to_map,
    "IsMatch": lambda x, pat: x.rlike(pat._lit),
    "ExtractPatterns": lambda x, pat: _extract_patterns(x, pat._lit),
    # math / type
    "Int": lambda x: x.cast("long"),
    "Double": lambda x: x.cast("double"),
    "String": lambda x: x.cast("string"),
    "Log": lambda x: F.log(x),
    # time
    # Time takes a strptime format (func_time.go via StrptimeToGotime),
    # same family as FormatTime — translate before handing to Java.
    "Time": lambda x, fmt: F.to_timestamp(x, strptime_to_java(fmt._lit)),
    "TruncateTime": lambda x, unit: F.date_trunc(unit._lit, x),
    "UnixSeconds": lambda x: F.unix_timestamp(x).cast("long"),
    # reference names are UnixMilli/UnixMicro (func_unix_milli.go,
    # func_unix_micro.go); the plural forms are kept as aliases
    "UnixMilli": lambda x: (F.unix_timestamp(x) * 1000).cast("long"),
    "UnixMillis": lambda x: (F.unix_timestamp(x) * 1000).cast("long"),
    "UnixMicro": lambda x: F.unix_micros(x),
    "UnixMicros": lambda x: F.unix_micros(x),
    "UnixNano": lambda x: F.unix_micros(x) * 1000,
    # Unix(seconds [, nanoseconds]) -> timestamp (func_unix.go);
    # sub-microsecond precision floors to Spark's microsecond grain
    "Unix": lambda sec, nanos=None: F.timestamp_micros(
        sec.cast("long") * 1_000_000
        + (_ns_to_us(nanos) if nanos is not None else F.lit(0))
    ),
    # Nanosecond(time) -> nanosecond component within the second
    # (func_nanosecond.go); microsecond-grain timestamps yield µs*1000
    "Nanosecond": lambda x: (F.unix_micros(x) % 1_000_000) * 1000,
    "Hour": lambda x: F.hour(x),
    "Minute": lambda x: F.minute(x),
    "Second": lambda x: F.second(x),
    "Day": lambda x: F.dayofmonth(x),
    "Month": lambda x: F.month(x),
    "Year": lambda x: F.year(x),
    # FormatTime takes a strptime format like the Time converter
    # (func_formattime.go:33-51 converts strptime->gotime; we convert
    # strptime->DateTimeFormatter once on the driver)
    "FormatTime": lambda x, fmt: F.date_format(x, strptime_to_java(fmt._lit)),
    "Now": lambda: F.current_timestamp(),
    # Go Weekday: Sunday=0 (func_weekday.go:31-39); Spark dayofweek: Sunday=1
    "Weekday": lambda x: (F.dayofweek(x) - 1).cast("long"),
    # Duration family: Go time.Duration is int64 nanoseconds; the
    # extractors mirror its accessors (Seconds/Minutes/Hours -> float64,
    # Milliseconds/Microseconds/Nanoseconds -> int64 truncated toward 0)
    "Duration": _duration_nanos,
    "Seconds": lambda x: x.cast("double") / 1e9,
    "Minutes": lambda x: x.cast("double") / 6e10,
    "Hours": lambda x: x.cast("double") / 3.6e12,
    "Milliseconds": lambda x: (x.cast("double") / 1e6).cast("long"),
    "Microseconds": lambda x: (x.cast("double") / 1e3).cast("long"),
    "Nanoseconds": lambda x: x.cast("long"),
    # parse (converter forms; full parser stages live in operators/parsers.py)
    "ParseJSON": lambda x: F.from_json(x, "map<string,string>"),
    "ParseCSV": _parse_csv,
    "ParseKeyValue": lambda x, pd=None, kd=None: F.str_to_map(
        x,
        F.lit(pd._lit if pd is not None else " "),
        F.lit(kd._lit if kd is not None else "="),
    ),
    # URL decomposition (ottlfuncs URL converter) — map of parts
    "URL": lambda x: F.create_map(
        F.lit("url.scheme"), F.parse_url(x, F.lit("PROTOCOL")),
        F.lit("url.domain"), F.parse_url(x, F.lit("HOST")),
        F.lit("url.path"), F.parse_url(x, F.lit("PATH")),
        F.lit("url.query"), F.parse_url(x, F.lit("QUERY")),
    ),
    # UserAgent converter (func_useragent.go): vendored uap-core-style
    # ordered pattern table, pure JVM CASE chain; the reference's exact
    # three semconv keys incl. user_agent.original (operators/useragent.py)
    "UserAgent": lambda x: user_agent_map(x),
    # hash / id
    "MD5": lambda x: F.md5(x.cast("string")),
    "SHA1": lambda x: F.sha1(x.cast("string")),
    "SHA256": lambda x: F.sha2(x.cast("string"), 256),
    "SHA512": lambda x: F.sha2(x.cast("string"), 512),
    # exact murmur3 Sum32, hex little-endian (func_murmur3_hash.go:35-47);
    # for hot-path 32-bit hashing prefer the JVM-native F.hash (also
    # murmur3-32, but Spark's seed/encoding — different output format)
    "Murmur3Hash": lambda x: murmur3_32_udf(x.cast("string")),
    # FNV-1a 64 / murmur3 x64-128 have no JVM builtin; Arrow-batched
    # numpy/python implementations (operators/udf_converters.py)
    "FNV": lambda x: fnv64a_udf(x.cast("string")),
    "Murmur3Hash128": lambda x: murmur3_128_udf(x.cast("string")),
    "UUID": lambda: F.expr("uuid()"),
    # XML (recursive data-dependent shape -> JSON string of the
    # reference's nested map; see udf_converters.py)
    "ParseXML": lambda x: parse_xml_udf(x.cast("string")),
    "ParseSimplifiedXML": lambda x: parse_simplified_xml_udf(x.cast("string")),
    # XML editors over an ElementTree XPath subset (+ /@attr selection);
    # func_get_xml.go / func_insert_xml.go / func_remove_xml.go /
    # func_convert_*_xml.go — per-literal-xpath cached Arrow UDFs
    "GetXML": lambda x, xp: get_xml_udf(xp._lit)(x.cast("string")),
    "InsertXML": lambda x, xp, sub: insert_xml_udf(xp._lit)(
        x.cast("string"), sub.cast("string")
    ),
    "RemoveXML": lambda x, xp: remove_xml_udf(xp._lit)(x.cast("string")),
    "ConvertAttributesToElementsXML": lambda x, xp=None: (
        convert_attributes_to_elements_xml_udf(
            xp._lit if xp is not None else "//@*"
        )(x.cast("string"))
    ),
    "ConvertTextToElementsXML": lambda x, xp=None, name=None: (
        convert_text_to_elements_xml_udf(
            xp._lit if xp is not None else "/",
            name._lit if name is not None else "value",
        )(x.cast("string"))
    ),
}


_TYPE_PREDICATES = {
    "IsString": lambda dt: dt == "string",
    "IsBool": lambda dt: dt == "boolean",
    "IsInt": lambda dt: dt in ("int", "bigint", "smallint", "tinyint"),
    "IsDouble": lambda dt: dt in ("double", "float"),
    "IsMap": lambda dt: dt.startswith("map"),
    "IsList": lambda dt: dt.startswith("array"),
}


class _Ctx:
    """Compilation context: carries the current DataFrame (paths resolve
    against it) and the sequence's error mode."""

    def __init__(self, df: DataFrame, error_mode: str):
        self.df = df
        self.error_mode = error_mode


_DTYPE_FAMILY = {
    "string": "str", "varchar": "str", "char": "str",
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "boolean": "bool", "binary": "bytes",
    "timestamp": "time", "timestamp_ntz": "time", "date": "time",
}


def _type_family(node, ctx: _Ctx) -> str | None:
    """Static type family of an expression node, used to apply the OTTL
    comparison/math coercion table (LANGUAGE.md L263-289) at compile
    time — the typed columnar model knows most types statically. Returns
    None for unknown (converter results, nil literals): unknown falls
    back to Spark semantics with null-safe equality."""
    if isinstance(node, Lit):
        v = node.value
        if v is None:
            return None  # nil: absence of value, handled by eqNullSafe
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, str):
            return "str"
        return None
    if isinstance(node, Path):
        dt = dict(ctx.df.dtypes).get(node.column_name())
        if dt is None:
            return None
        if dt.startswith("interval"):
            return "duration"
        return _DTYPE_FAMILY.get(dt.split("(")[0])
    if isinstance(node, Call):
        # converters with a statically-known family, so time/duration
        # math (LANGUAGE.md L198-218) type-checks through them
        if node.name == "Duration":
            return "duration"  # engine representation: int64 nanoseconds
        if node.name in ("Time", "TruncateTime", "Now", "Unix"):
            return "time"
        return None
    if isinstance(node, BinOp) and node.op in ("+", "-", "*", "/"):
        fl = _type_family(node.left, ctx)
        fr = _type_family(node.right, ctx)
        if fl == "time" and fr == "time":
            return "duration"  # time - time
        if "time" in (fl, fr) and "duration" in (fl, fr):
            return "time"
        if fl == fr:
            return fl
        return None
    return None


def _compile(node, ctx: _Ctx) -> Column:
    if isinstance(node, Lit):
        c = F.lit(node.value)
        c._lit = node.value  # converters that need the raw literal (regex, fmt)
        return c
    if isinstance(node, Path):
        name = node.column_name()
        return F.col(name)
    if isinstance(node, ListExpr):
        return [_compile(i, ctx) for i in node.items]
    if isinstance(node, BinOp):
        l, r = _compile(node.left, ctx), _compile(node.right, ctx)
        fl, fr = _type_family(node.left, ctx), _type_family(node.right, ctx)
        mismatched = (
            fl is not None
            and fr is not None
            and fl != fr
            and not ({fl, fr} <= {"int", "float"})
        )
        # OTTL comparison rules (pkg/ottl/LANGUAGE.md L263-289): values
        # of differing types are never equal (int/float may mix); nil
        # equals only nil — eqNullSafe gives exactly Go's nil semantics,
        # including `x != "v"` being TRUE when x is nil.
        if node.op == "==":
            return F.lit(False) if mismatched else l.eqNullSafe(r)
        if node.op == "!=":
            return F.lit(True) if mismatched else ~l.eqNullSafe(r)
        if node.op in (">", "<", ">=", "<="):
            if mismatched:
                # ordering across types is an error in Go; under ignore
                # the statement simply doesn't match
                if ctx.error_mode in ("ignore", "silent"):
                    return F.lit(False)
                raise ValueError(
                    f"cannot order-compare {fl} and {fr} (LANGUAGE.md "
                    "comparison rules)"
                )
        elif node.op in ("+", "-", "*", "/") and (
            "time" in (fl, fr) or "duration" in (fl, fr)
        ):
            # LANGUAGE.md L198-218: time.Time / time.Duration support
            # only + and -, with exactly these result rules.  Engine
            # representation: duration = int64 nanoseconds (the same
            # representation Go's time.Duration uses), time = timestamp.
            ok = node.op in ("+", "-") and (
                (fl == "time" and fr == "time" and node.op == "-")
                or (fl == "time" and fr == "duration")
                or (fl == "duration" and fr == "time" and node.op == "+")
                or (fl == "duration" and fr == "duration")
            )
            if not ok:
                if ctx.error_mode in ("ignore", "silent"):
                    return F.lit(None)
                raise ValueError(
                    f"math '{node.op}' between {fl} and {fr} is not a "
                    "supported time/duration operation (LANGUAGE.md "
                    "math rules: time-time, time±duration, "
                    "duration+time, duration±duration)"
                )
            if fl == "time" and fr == "time":
                # time - time -> duration (nanoseconds; Spark's grain is
                # microseconds, the sub-µs digits are zero)
                return (
                    F.unix_micros(l.cast("timestamp"))
                    - F.unix_micros(r.cast("timestamp"))
                ) * 1000
            if fl == "time":  # time ± duration -> time
                shift = _ns_to_us(r if node.op == "+" else -r)
                return F.timestamp_micros(
                    F.unix_micros(l.cast("timestamp")) + shift
                )
            if fr == "time":  # duration + time -> time
                return F.timestamp_micros(
                    F.unix_micros(r.cast("timestamp")) + _ns_to_us(l)
                )
            # duration ± duration: plain int64 arithmetic below
        elif node.op in ("+", "-", "*", "/") and (
            fl is not None
            and fr is not None
            and not (fl == fr and fl in ("int", "float"))
        ):
            # the grammar does no implicit conversion in math
            # (LANGUAGE.md): int/float mixing errors, and non-numeric
            # operands (strings, bools) error too; Spark would silently
            # coerce numeric-looking strings
            if ctx.error_mode in ("ignore", "silent"):
                return F.lit(None)
            raise ValueError(
                f"math between {fl} and {fr} needs explicit Int()/"
                "Double() conversions (LANGUAGE.md math rules)"
            )
        ops = {
            ">": lambda a, b: a > b,
            "<": lambda a, b: a < b,
            ">=": lambda a, b: a >= b,
            "<=": lambda a, b: a <= b,
            "+": lambda a, b: a + b,
            "-": lambda a, b: a - b,
            "*": lambda a, b: a * b,
            "/": lambda a, b: a / b,
            "and": lambda a, b: a & b,
            "or": lambda a, b: a | b,
        }
        return ops[node.op](l, r)
    if isinstance(node, Call):
        if node.name == "not":
            return ~_compile(node.args[0], ctx)
        if node.name == "Substring":
            x = _compile(node.args[0], ctx)
            start = node.args[1].value if isinstance(node.args[1], Lit) else None
            ln = node.args[2].value if isinstance(node.args[2], Lit) else None
            return F.substring(x, start + 1, ln)  # OTTL is 0-based; SQL 1-based
        if node.name in ("Int", "Double") and ctx.error_mode in ("ignore", "silent"):
            # error_mode ignore: a bad value nulls out instead of failing
            # the statement (ottl config.go:14-16)
            return _compile(node.args[0], ctx).try_cast(
                "long" if node.name == "Int" else "double"
            )
        if node.name == "Time" and ctx.error_mode in ("ignore", "silent"):
            # ANSI to_timestamp raises on malformed input — under ignore
            # the statement must null out and flow on instead
            x = _compile(node.args[0], ctx)
            return F.try_to_timestamp(
                x, F.lit(strptime_to_java(node.args[1].value))
            )
        if node.name in _TYPE_PREDICATES:
            # OTTL type predicates check the VALUE type per record; in a
            # typed columnar model a column's type is static, so these
            # resolve to a literal at compile time (null-ness still
            # matters: a null value is not of any type)
            arg = node.args[0]
            if not isinstance(arg, Path):
                raise ValueError(f"{node.name} requires a path argument")
            name = arg.column_name()
            dtype = dict(ctx.df.dtypes).get(name, "")
            matches = _TYPE_PREDICATES[node.name](dtype)
            col = _compile(arg, ctx)
            return F.when(col.isNull(), F.lit(False)).otherwise(F.lit(matches))
        fn = CONVERTERS.get(node.name)
        if fn is None:
            raise ValueError(f"unknown converter {node.name!r}")
        if node.kwargs:
            # fail loudly rather than silently dropping a named arg the
            # Spark implementation doesn't consume (parser.go rejects
            # unknown parameters the same way)
            raise ValueError(
                f"{node.name}: named arguments {sorted(node.kwargs)} not "
                "supported — pass positionally"
            )
        return fn(*[_compile(a, ctx) for a in node.args])
    raise TypeError(type(node))


# ---------------------------------------------------------------------------
# editors (mutate the DataFrame; ottlfuncs/functions.go:12-26)
# ---------------------------------------------------------------------------

def _flatten_map_col(col: Column, dt, prefix: str, depth: int) -> Column:
    """flatten editor (func_flatten.go:88-130) over a statically-typed
    map column. The reference walks each record's dynamic value tree; a
    Spark map's value type is uniform and known at compile time, so the
    walk happens HERE, once, and emits a single JVM expression:

      map<string, map<...>>  -> inner keys become "outer.inner"
      map<string, array<...>>-> elements become "key.0", "key.1", ...
      map<string, atomic>    -> prefix applied (if any), else identity
    """
    if not isinstance(dt, T.MapType):
        raise ValueError("flatten requires a map column")
    pfx = (prefix + ".") if prefix else ""
    vt = dt.valueType
    if isinstance(vt, T.MapType) and depth > 0:
        # flatten one level, then recurse on the (already-prefixed) result
        flattened = F.map_from_entries(
            F.flatten(
                F.transform(
                    F.map_entries(col),
                    lambda e: F.transform(
                        F.map_entries(e["value"]),
                        lambda ie: F.struct(
                            F.concat(F.lit(pfx), e["key"], F.lit("."), ie["key"]).alias(
                                "key"
                            ),
                            ie["value"].alias("value"),
                        ),
                    ),
                )
            )
        )
        inner_dt = T.MapType(T.StringType(), vt.valueType)
        return _flatten_map_col(flattened, inner_dt, "", depth - 1)
    if isinstance(vt, T.ArrayType) and depth > 0:
        return F.map_from_entries(
            F.flatten(
                F.transform(
                    F.map_entries(col),
                    lambda e: F.transform(
                        e["value"],
                        lambda x, i: F.struct(
                            F.concat(
                                F.lit(pfx), e["key"], F.lit("."), i.cast("string")
                            ).alias("key"),
                            x.alias("value"),
                        ),
                    ),
                )
            )
        )
    if prefix:
        return F.map_from_entries(
            F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    F.concat(F.lit(pfx), e["key"]).alias("key"),
                    e["value"].alias("value"),
                ),
            )
        )
    return col


#: named arguments each editor consumes — anything else is a loud error,
#: never silently dropped
_EDITOR_KWARGS = {
    "flatten": {"prefix", "depth", "resolveConflicts"},
    "append": {"values"},
    "limit": {"priority_keys"},
}


def _apply_editor(df: DataFrame, st: Statement, ctx: _Ctx) -> DataFrame:
    ed = st.editor
    unknown_kw = set(ed.kwargs or {}) - _EDITOR_KWARGS.get(ed.name, set())
    if unknown_kw:
        raise ValueError(
            f"{ed.name}: named arguments {sorted(unknown_kw)} not supported"
        )
    cond = _compile(st.where, ctx) if st.where is not None else None

    def gated(col_name: str, new: Column) -> DataFrame:
        if cond is None:
            return df.withColumn(col_name, new)
        old = F.col(col_name) if col_name in df.columns else F.lit(None)
        return df.withColumn(col_name, F.when(cond, new).otherwise(old))

    if ed.name == "set":
        # set(target, value): nil value is a no-op (func_set.go:36-44)
        target, value = ed.args
        if isinstance(value, Lit) and value.value is None:
            return df
        if not isinstance(target, Path):
            raise ValueError("set target must be a path")
        return gated(target.column_name(), _compile(value, ctx))
    if ed.name == "delete_key":
        target, key = ed.args
        name = target.column_name()
        if dict(df.dtypes).get(name, "").startswith("map"):
            new = F.map_filter(F.col(name), lambda k, _: k != F.lit(key.value))
            return gated(name, new)
        # flat model: deleting a promoted column. A gated delete can't
        # drop the column for only SOME rows — null it per-row instead,
        # honoring the editor contract for `where`
        if cond is not None and key.value in df.columns:
            return df.withColumn(
                key.value, F.when(cond, F.lit(None)).otherwise(F.col(key.value))
            )
        return df.drop(key.value)
    if ed.name in ("delete_matching_keys", "keep_matching_keys"):
        # func_delete_matching_keys.go / func_keep_matching_keys.go:
        # regex over KEYS of the map
        target, pat = ed.args
        name = target.column_name()
        if ed.name == "keep_matching_keys":
            new = F.map_filter(F.col(name), lambda k, _: k.rlike(pat.value))
        else:
            new = F.map_filter(F.col(name), lambda k, _: ~k.rlike(pat.value))
        return gated(name, new)
    if ed.name == "flatten":
        # func_flatten.go:45-130: flatten nested maps/slices, optional
        # prefix and depth (positional or named, e2e corpus uses both).
        # Spark types are static, so the recursion happens at COMPILE
        # time over the dtype — execution stays JVM.
        kw = ed.kwargs or {}
        target = ed.args[0]
        prefix = ed.args[1].value if len(ed.args) > 1 else (
            kw["prefix"].value if "prefix" in kw else ""
        )
        depth = ed.args[2].value if len(ed.args) > 2 else (
            kw["depth"].value if "depth" in kw else 2**31
        )
        if kw.get("resolveConflicts") and kw["resolveConflicts"].value:
            # conflicts can't occur in the statically-typed flatten
            # (distinct outer keys yield distinct prefixed keys), so the
            # reference's numeric-suffix path has nothing to resolve
            raise ValueError(
                "flatten(resolveConflicts=true) is unnecessary in the "
                "typed-column model: flattened keys are unique by construction"
            )
        name = target.column_name()
        dt = ctx.df.schema[name].dataType
        return gated(name, _flatten_map_col(F.col(name), dt, prefix, depth))
    if ed.name == "keep_keys":
        target, keys = ed.args
        name = target.column_name()
        keep = [k.value for k in keys.items]
        if dict(df.dtypes).get(name, "").startswith("map"):
            arr = F.array(*[F.lit(k) for k in keep])
            return gated(name, F.map_filter(F.col(name), lambda k, _: F.array_contains(arr, k)))
        raise ValueError("keep_keys requires a map column")
    if ed.name in ("replace_pattern", "replace_all_patterns"):
        # optional 4th arg: converter applied to the replacement value
        # (func_replace_pattern.go optional Function, e2e: `replace_
        # pattern(attributes["http.path"], "/", "@", SHA256)`)
        target, pattern, repl = ed.args[:3]
        name = target.column_name()
        if len(ed.args) > 3:
            fn_node = ed.args[3]
            fn = CONVERTERS.get(getattr(fn_node, "parts", [None])[0])
            if fn is None:
                raise ValueError(f"replace_pattern: unknown function {fn_node!r}")
            if "$" in repl.value:
                # the reference applies the converter to each match's
                # capture-EXPANDED replacement (func_replace_pattern.go);
                # a per-match converter call isn't expressible in one
                # regexp_replace, so refuse rather than hash the literal
                raise ValueError(
                    "replace_pattern: converter function with capture "
                    "references in the replacement is not supported"
                )
            repl_col = fn(F.lit(repl.value))
            return gated(
                name, F.regexp_replace(F.col(name), F.lit(pattern.value), repl_col)
            )
        return gated(name, F.regexp_replace(F.col(name), pattern.value, repl.value))
    if ed.name in ("replace_match", "replace_all_matches"):
        # glob match -> whole-value replacement (func_replace_match.go)
        target, glob_pat, repl = ed.args[:3]
        name = target.column_name()
        # escape LIKE metachars (% AND _) before translating glob
        # wildcards; '?'->'_' runs last so its output isn't re-escaped
        like = (
            glob_pat.value.replace("%", r"\%")
            .replace("_", r"\_")
            .replace("*", "%")
            .replace("?", "_")
        )
        new = F.when(F.col(name).like(like), F.lit(repl.value)).otherwise(F.col(name))
        return gated(name, new)
    if ed.name == "merge_maps":
        # merge_maps(target, source, mode) (func_merge_maps.go:16-47)
        target, source, mode = ed.args
        name = target.column_name()
        t, s = F.col(name), _compile(source, ctx)
        m = mode.value
        if m == "upsert":
            new = F.map_concat(
                F.map_filter(t, lambda k, _: ~F.array_contains(F.map_keys(s), k)), s
            )
        elif m == "insert":
            new = F.map_concat(
                t, F.map_filter(s, lambda k, _: ~F.array_contains(F.map_keys(t), k))
            )
        elif m == "update":
            new = F.map_concat(
                F.map_filter(t, lambda k, _: ~F.array_contains(F.map_keys(s), k)),
                F.map_filter(s, lambda k, _: F.array_contains(F.map_keys(t), k)),
            )
        else:
            raise ValueError(f"merge_maps mode {m!r}")
        return gated(name, new)
    if ed.name == "truncate_all":
        target, n = ed.args
        name = target.column_name()
        return gated(
            name,
            F.transform_values(F.col(name), lambda _, v: F.substring(v, 1, n.value)),
        )
    if ed.name == "limit":
        # limit(target, n [, priority_keys]) (func_limit.go:35-80):
        # no-op when the map already fits; priority keys survive first
        target, n = ed.args[:2]
        name = target.column_name()
        col = F.col(name)
        pri_node = (
            ed.args[2]
            if len(ed.args) > 2
            else (ed.kwargs or {}).get("priority_keys")
        )
        if pri_node is not None:
            keys = [k.value for k in pri_node.items]
            if n.value < len(keys):
                raise ValueError(
                    f"limit {n.value} cannot be less than number of "
                    f"priority keys {len(keys)}"
                )
            entries = F.map_entries(col)
            pri_arr = F.array(*[F.lit(k) for k in keys])
            pri = F.filter(entries, lambda e: F.array_contains(pri_arr, e["key"]))
            rest = F.filter(entries, lambda e: ~F.array_contains(pri_arr, e["key"]))
            room = F.greatest(F.lit(0), F.lit(n.value) - F.size(pri))
            new = F.when(F.size(entries) <= n.value, col).otherwise(
                F.map_from_entries(F.concat(pri, F.slice(rest, F.lit(1), room)))
            )
            return gated(name, new)
        return gated(
            name,
            F.map_from_entries(F.slice(F.map_entries(col), 1, n.value)),
        )
    if ed.name == "append":
        # append(target, value) or append(target, values=[...])
        # (func_append.go: creates the slice when the target is missing)
        target = ed.args[0]
        name = target.column_name()
        kw = ed.kwargs or {}
        if "values" in kw:
            new_items = F.array(*[_compile(v, ctx) for v in kw["values"].items])
        elif len(ed.args) > 1:
            new_items = F.array(_compile(ed.args[1], ctx))
        else:
            raise ValueError("append needs a value or values=[...]")
        if name in df.columns:
            return gated(name, F.concat(F.col(name), new_items))
        return gated(name, new_items)
    raise ValueError(f"unknown editor {ed.name!r}")


_EDITORS = {
    "set", "delete_key", "keep_keys", "replace_pattern",
    "replace_all_patterns", "replace_match", "replace_all_matches",
    "merge_maps", "truncate_all", "limit", "append",
    "delete_matching_keys", "keep_matching_keys", "flatten",
}


def _validate(node, *, top: bool = False) -> None:
    """Build-time function resolution (parser.go newFunctionCall analog):
    unknown editors/converters fail at compile, not mid-job."""
    if isinstance(node, Call):
        known = _EDITORS if top else (
            set(CONVERTERS)
            | set(_TYPE_PREDICATES)
            | {"not", "Substring", "Int", "Double"}
        )
        if node.name not in known:
            kind = "editor" if top else "converter"
            raise ValueError(f"unknown {kind} {node.name!r}")
        for a in node.args:
            _validate(a)
        for v in (node.kwargs or {}).values():
            _validate(v)
    elif isinstance(node, BinOp):
        _validate(node.left)
        _validate(node.right)
    elif isinstance(node, ListExpr):
        for i in node.items:
            _validate(i)


def compile_statement(stmt: str) -> Statement:
    """Parse one statement (driver-side, once — parser.go:241-253 analog)."""
    st = _parse(stmt)
    _validate(st.editor, top=True)
    if st.where is not None:
        _validate(st.where)
    return st


def apply_statements(
    df: DataFrame, statements: list[str], *, error_mode: str = "propagate"
) -> DataFrame:
    """StatementSequence.Execute (parser.go:356-371): statements apply in
    order; each sees the previous one's output."""
    ctx = _Ctx(df, error_mode)
    for s in statements:
        st = compile_statement(s)
        ctx.df = df = _apply_editor(df, st, ctx)
    return df


def compile_condition(
    df: DataFrame, expr: str, *, error_mode: str = "propagate"
) -> Column:
    """Parse + compile one OTTL boolean condition to a Catalyst Column
    (pkg/ottl/parser.go ParseCondition analog). Used by the count/sum
    connectors, whose per-metric ``conditions`` are OTTL conditions
    (connector/countconnector/config.go:35-51)."""
    tokens = _tokenize(expr)
    p = _Parser(tokens)
    node = p.parse_expr()
    if p.peek()[0] != "eof":
        raise ValueError(f"trailing tokens in condition {expr!r}")
    _validate(node)
    return _compile(node, _Ctx(df, error_mode))
