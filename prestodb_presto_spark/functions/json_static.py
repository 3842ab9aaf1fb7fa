"""Static JSON <-> complex-type conversion for the Presto SQL dialect.

Presto's JSON casts have semantics Spark's to_json/from_json cannot
express directly:

- CAST(value AS JSON) renders maps as objects with keys SERIALIZED TO
  STRINGS and sorted lexically, rows as POSITIONAL arrays, doubles in
  Java's Double.toString form, decimals in plain (never scientific)
  notation, NaN/Infinity as quoted strings, and JSON-typed values
  spliced in raw (JsonOperators.java, JsonUtil.java).
- CAST(JSON 'x' AS T) coerces across JSON kinds: booleans to 1/0,
  numbers to booleans via != 0, numeric strings to numbers, with
  HALF_UP rounding into integral/decimal targets
  (JsonToXxxCasts in JsonOperators.java / JsonCastException rules).

Both directions are statically decidable when the operand is a literal
(or a literal constructor tree) — exactly the shapes the reference's
own unit tests assert — so the dialect folds them in Python rather
than approximating at runtime.  Non-literal operands fall back to the
runtime to_json strategies in dialect._json_cast_rewrite.
"""

from __future__ import annotations

import json as _json
import math
import re
from decimal import ROUND_HALF_UP, Decimal, localcontext

from prestodb_presto_spark.sqlscan import close_index, split_top

__all__ = [
    "parse_literal_expr",
    "render_presto_json",
    "parse_type",
    "json_to_expr",
    "java_double_str",
    "java_float_str",
]


# --- Java floating-point renderings -----------------------------------------
# Java's Double.toString: plain decimal for 1e-3 <= |x| < 1e7, else
# d.dddE±n with a mandatory fraction digit; shortest round-trip digits.


def _sci(sign: str, digits: str, exp: int) -> str:
    digits = digits.rstrip("0") or "0"
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{exp}"


def _format_java(shortest: str) -> str:
    """Format a shortest-digits decimal rendering the way Java's
    Double/Float.toString does."""
    neg = shortest.startswith("-")
    s = shortest.lstrip("+-")
    sign = "-" if neg else ""
    m = re.match(r"^(\d*)(?:\.(\d*))?(?:[eE]([+-]?\d+))?$", s)
    int_part, frac_part, e = m.group(1) or "", m.group(2) or "", m.group(3)
    exp_in = int(e) if e else 0
    digits = (int_part + frac_part).lstrip("0")
    if not digits:
        return sign + "0.0" if sign else "0.0"
    # exponent of the leading digit
    lead_pos = len(int_part) - (len(int_part + frac_part) - len(
        (int_part + frac_part).lstrip("0")
    ))
    exp = lead_pos - 1 + exp_in
    if -3 <= exp < 7:
        # plain rendering
        if exp >= 0:
            ip = digits[: exp + 1].ljust(exp + 1, "0")
            fp = digits[exp + 1 :].rstrip("0") or "0"
            return f"{sign}{ip}.{fp}"
        fp = "0" * (-exp - 1) + digits
        return f"{sign}0.{fp.rstrip('0') or '0'}"
    return _sci(sign, digits, exp)


def java_double_str(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0:
        return "-0.0" if math.copysign(1, v) < 0 else "0.0"
    return _format_java(repr(v))


def java_float_str(v) -> str:
    import numpy as np

    f = np.float32(v)
    if np.isnan(f):
        return "NaN"
    if np.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == 0:
        return "0.0"
    return _format_java(np.format_float_scientific(f, unique=True, trim="-"))


# --- literal-expression value tree ------------------------------------------
# nodes: ("null",), ("bool", b), ("int", n), ("double", f), ("real", f),
# ("dec", Decimal, p, s), ("str", s), ("json", raw_text),
# ("array", [nodes]), ("map", [(k, v)]), ("row", [nodes])

_NUM = re.compile(r"^[-+]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_MASK = re.compile(r"^\x00(\d+)\x00$")


def parse_literal_expr(text: str, literals: list[str]):
    """Literal constructor expression → value tree, or None."""
    t = text.strip()
    up = t.upper()
    if up == "NULL":
        return ("null",)
    if up in ("TRUE", "FALSE"):
        return ("bool", up == "TRUE")
    if up in ("NAN()", "NAN ()"):
        return ("double", float("nan"))
    if up in ("INFINITY()", "INFINITY ()"):
        return ("double", float("inf"))
    if up.startswith("-"):
        inner = parse_literal_expr(t[1:], literals)
        if inner is None:
            return None
        kind = inner[0]
        if kind in ("int", "double", "real"):
            return (kind, -inner[1])
        if kind == "dec":
            return ("dec", -inner[1], inner[2], inner[3])
        return None
    m = _MASK.match(t)
    if m:
        return ("str", literals[int(m.group(1))][1:-1].replace("''", "'"))
    tm = re.match(r"^TIMESTAMP\s*\x00(\d+)\x00$", t, re.IGNORECASE)
    if tm:
        # a TIMESTAMP literal's varchar rendering carries millisecond
        # precision (SqlTimestamp.toString)
        content = literals[int(tm.group(1))][1:-1].replace("''", "'").strip()
        mm = re.match(
            r"^(\d{4}-\d{1,2}-\d{1,2})[ T](\d{1,2}:\d{2})(?::(\d{2}))?(?:\.(\d+))?$",
            content,
        )
        if not mm:
            return None
        frac = (mm.group(4) or "").ljust(3, "0")[:3]
        return (
            "str",
            f"{mm.group(1)} {mm.group(2)}:{mm.group(3) or '00'}.{frac}",
        )
    jm = re.match(r"^JSON\s*\x00(\d+)\x00$", t, re.IGNORECASE)
    if jm:
        return ("json", literals[int(jm.group(1))][1:-1].replace("''", "'"))
    if _NUM.match(t):
        if "e" in t.lower():
            return ("double", float(t))
        if "." in t:
            # a bare dotted literal is DECIMAL in Presto (DecimalType
            # literal typing), not DOUBLE
            digits = t.lstrip("+-")
            s = len(digits.split(".")[1])
            p = max(1, len(digits.replace(".", "").lstrip("0")) or 1)
            return ("dec", Decimal(t), max(p, s + 1), s)
        return ("int", int(t))
    cm = re.match(r"^(?:TRY_)?CAST\s*\(", t, re.IGNORECASE)
    if cm:
        try:
            end = close_index(t, cm.end() - 1) + 1
        except ValueError:
            return None
        args = split_top(t[cm.end() : end - 1])
        if end != len(t) or not args:
            return None
        # MAP<K, V> angle generics carry commas the scanner splits on
        arg_text = ", ".join(args) if len(args) > 1 else args[0]
        parts = re.split(r"\s+AS\s+", arg_text, flags=re.IGNORECASE)
        if len(parts) < 2:
            return None
        inner_t, typ = " AS ".join(parts[:-1]), parts[-1].strip()
        dm = re.fullmatch(
            r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", typ, re.IGNORECASE
        )
        inner = parse_literal_expr(inner_t, literals)
        if inner is None:
            return None
        if dm:
            p, s = int(dm.group(1)), int(dm.group(2))
            if inner[0] == "str":
                try:
                    v = Decimal(inner[1])
                except Exception:
                    return None
                return ("dec", v, p, s)
            if inner[0] == "int":
                return ("dec", Decimal(inner[1]).scaleb(0), p, s)
            return None
        ty = parse_type(typ)
        return _apply_type(inner, ty) if ty else inner

    def _ctor(name: str):
        mm = re.match(rf"^{name}\s*\(", t, re.IGNORECASE)
        if not mm:
            return None
        try:
            end = close_index(t, mm.end() - 1) + 1
        except ValueError:
            return None
        args = split_top(t[mm.end() : end - 1])
        if end != len(t):
            return None
        if len(args) == 1 and not args[0].strip():
            return []
        out = []
        for a in args:
            v = parse_literal_expr(a, literals)
            if v is None:
                return None
            out.append(v)
        return out

    arr = _ctor("array")
    if arr is not None:
        return ("array", _unify_decimals(arr))
    rw = _ctor("row")
    if rw is not None:
        return ("row", rw)
    mp = re.match(r"^MAP(?:_FROM_ARRAYS)?\s*\(", t, re.IGNORECASE)
    if mp:
        try:
            end = close_index(t, mp.end() - 1) + 1
        except ValueError:
            return None
        args = split_top(t[mp.end() : end - 1])
        if end != len(t):
            return None
        if len(args) == 1 and not args[0].strip():
            return ("map", [])
        if len(args) != 2:
            return None
        ks = parse_literal_expr(args[0], literals)
        vs = parse_literal_expr(args[1], literals)
        if (
            ks is None
            or vs is None
            or ks[0] != "array"
            or vs[0] != "array"
            or len(ks[1]) != len(vs[1])
        ):
            return None
        return ("map", list(zip(ks[1], vs[1])))
    return None


def _unify_decimals(nodes):
    """Presto array-constructor type unification for decimals: all
    decimal elements (and ints mixed with them) take the max scale —
    pad-only, never rounds."""
    if not any(n[0] == "dec" for n in nodes):
        return nodes
    if not all(n[0] in ("dec", "int", "null") for n in nodes):
        return nodes
    maxs = max(n[3] for n in nodes if n[0] == "dec")
    out = []
    for n in nodes:
        if n[0] == "dec":
            out.append(("dec", n[1], max(n[2], n[2] - n[3] + maxs), maxs))
        elif n[0] == "int":
            out.append(("dec", Decimal(n[1]), len(str(abs(n[1]))) + maxs, maxs))
        else:
            out.append(n)
    return out


def _apply_type(node, ty):
    """Coerce a parsed value tree to a parsed type (for CASTs of
    literal constructors, e.g. cast(ARRAY[..] AS ARRAY<REAL>))."""
    if node[0] == "null":
        return node
    kind = ty[0]
    if kind == "array" and node[0] == "array":
        out = [_apply_type(e, ty[1]) for e in node[1]]
        if any(e is None for e in out):
            return None
        return ("array", out)
    if kind == "map" and node[0] == "map":
        out = []
        for k, v in node[1]:
            k2, v2 = _apply_type(k, ty[1]), _apply_type(v, ty[2])
            if k2 is None or v2 is None:
                return None
            out.append((k2, v2))
        return ("map", out)
    if kind == "row" and node[0] == "row":
        if len(ty[1]) != len(node[1]):
            return None
        out = [_apply_type(e, ft) for e, (_, ft) in zip(node[1], ty[1])]
        if any(e is None for e in out):
            return None
        return ("row", out)
    if kind == "real":
        if node[0] in ("int", "double", "real"):
            return ("real", float(node[1]))
        return None
    if kind == "double":
        if node[0] in ("int", "double", "real"):
            return ("double", float(node[1]))
        return None
    if kind == "dec":
        if node[0] == "int":
            return ("dec", Decimal(node[1]), ty[1], ty[2])
        if node[0] == "dec":
            return ("dec", node[1], ty[1], ty[2])
        return None
    if kind in ("bigint", "integer", "smallint", "tinyint") and node[0] == "int":
        return node
    if kind == "varchar" and node[0] == "str":
        return node
    if kind == "boolean" and node[0] == "bool":
        return node
    if kind == "json":
        return node
    return node if node[0] != "row" else None


# --- Presto-canonical JSON rendering ----------------------------------------


def _json_escape(s: str) -> str:
    return _json.dumps(s, ensure_ascii=False)


def _canon_raw(text: str) -> str:
    """Compact a raw JSON text preserving member order and lexemes."""
    out: list[str] = []
    in_str = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
            out.append(ch)
        elif ch not in " \t\n\r":
            out.append(ch)
        i += 1
    return "".join(out)


def _render_key(node) -> str | None:
    kind = node[0]
    if kind == "str":
        return node[1]
    if kind == "int":
        return str(node[1])
    if kind == "double":
        return java_double_str(node[1])
    if kind == "real":
        return java_float_str(node[1])
    if kind == "dec":
        with localcontext() as ctx:
            ctx.prec = 60
            q = node[1].quantize(
                Decimal(1).scaleb(-node[3]), rounding=ROUND_HALF_UP
            )
        return format(q, "f")
    if kind == "bool":
        return "true" if node[1] else "false"
    return None


def render_presto_json(node) -> str | None:
    kind = node[0]
    if kind == "null":
        return "null"
    if kind == "bool":
        return "true" if node[1] else "false"
    if kind == "int":
        return str(node[1])
    if kind == "double":
        v = node[1]
        if math.isnan(v) or math.isinf(v):
            return '"' + java_double_str(v) + '"'
        return java_double_str(v)
    if kind == "real":
        s = java_float_str(node[1])
        return '"' + s + '"' if s in ("NaN", "Infinity", "-Infinity") else s
    if kind == "dec":
        return _render_key(node)
    if kind == "str":
        return _json_escape(node[1])
    if kind == "json":
        return _canon_raw(node[1])
    if kind == "array" or kind == "row":
        parts = [render_presto_json(e) for e in node[1]]
        if any(p is None for p in parts):
            return None
        return "[" + ",".join(parts) + "]"
    if kind == "map":
        items = []
        for k, v in node[1]:
            ks = _render_key(k)
            vs = render_presto_json(v)
            if ks is None or vs is None:
                return None
            items.append((ks, vs))
        items.sort(key=lambda kv: kv[0])
        return "{" + ",".join(f"{_json_escape(k)}:{v}" for k, v in items) + "}"
    return None


# --- Presto type parsing -----------------------------------------------------
# trees: ("array", t) | ("map", k, v) | ("row", [(name|None, t)]) |
# ("dec", p, s) | ("varchar",) | ("boolean",) | ("bigint",) | ... |
# ("json",)

_SCALARS = {
    "boolean", "tinyint", "smallint", "integer", "int", "bigint",
    "real", "double", "varchar", "json", "unknown",
}


def parse_type(t: str):
    t = t.strip()
    low = t.lower()
    m = re.match(r"^(array|map|row)\s*[(<](.*)[)>]\s*$", t, re.IGNORECASE | re.DOTALL)
    if m:
        kind, inner = m.group(1).lower(), m.group(2)
        args = split_top(inner, "()<>")
        if kind == "array":
            et = parse_type(args[0])
            return ("array", et) if et else None
        if kind == "map":
            if len(args) != 2:
                return None
            kt, vt = parse_type(args[0]), parse_type(args[1])
            return ("map", kt, vt) if kt and vt else None
        fields = []
        for a in args:
            a = a.strip()
            fm = re.match(r"^([A-Za-z_]\w*)\s+(.+)$", a, re.DOTALL)
            if fm and fm.group(1).lower() not in _SCALARS and not re.match(
                r"^(?:decimal|varchar|char)\b", fm.group(1), re.IGNORECASE
            ):
                ft = parse_type(fm.group(2))
                if not ft:
                    return None
                fields.append((fm.group(1), ft))
            else:
                ft = parse_type(a)
                if not ft:
                    return None
                fields.append((None, ft))
        return ("row", fields)
    dm = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", low)
    if dm:
        return ("dec", int(dm.group(1)), int(dm.group(2)))
    vm = re.fullmatch(r"(?:varchar|char)\s*\(\s*\d+\s*\)", low)
    if vm:
        return ("varchar",)
    if low in _SCALARS:
        return ("integer",) if low == "int" else (low,)
    if low == "double precision":
        return ("double",)
    return None


def _spark_type(ty) -> str:
    kind = ty[0]
    if kind == "array":
        return f"ARRAY<{_spark_type(ty[1])}>"
    if kind == "map":
        return f"MAP<{_spark_type(ty[1])}, {_spark_type(ty[2])}>"
    if kind == "row":
        fields = []
        for i, (name, ft) in enumerate(ty[1]):
            fields.append(f"{name or f'field{i}'}: {_spark_type(ft)}")
        return f"STRUCT<{', '.join(fields)}>"
    return {
        "dec": lambda: f"DECIMAL({ty[1]},{ty[2]})",
        "varchar": lambda: "STRING",
        "json": lambda: "STRING",
        "boolean": lambda: "BOOLEAN",
        "tinyint": lambda: "TINYINT",
        "smallint": lambda: "SMALLINT",
        "integer": lambda: "INT",
        "bigint": lambda: "BIGINT",
        "real": lambda: "FLOAT",
        "double": lambda: "DOUBLE",
        "unknown": lambda: "STRING",
    }[kind]()


# --- JSON value → typed SQL expression (JsonToXxxCasts coercions) -----------


def _mask(s: str, literals: list[str]) -> str:
    literals.append("'" + s.replace("'", "''") + "'")
    return f"\x00{len(literals) - 1}\x00"


def _compact_json(v) -> str:
    """Compact JSON rendering preserving Decimal lexemes."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, (int, float)):
        return _json.dumps(v)
    if isinstance(v, str):
        return _json_escape(v)
    if isinstance(v, list):
        return "[" + ",".join(_compact_json(e) for e in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(f"{_json_escape(k)}:{_compact_json(x)}" for k, x in v.items())
            + "}"
        )
    return _json.dumps(v, default=str)


def _num_of(v):
    """JSON value → numeric (for numeric targets), or None."""
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, (int, float, Decimal)):
        return v
    if isinstance(v, str):
        s = v.strip()
        try:
            return int(s)
        except ValueError:
            try:
                return Decimal(s)
            except Exception:
                return None
    return None


def json_to_expr(v, ty, literals: list[str]) -> str | None:
    """Presto semantics for CAST(JSON → ty), as a Spark expression."""
    kind = ty[0]
    if kind == "json":
        # a JSON-typed element keeps its raw form — JSON null is the
        # TEXT 'null', not SQL NULL (JsonUtil)
        return _mask(_compact_json(v), literals)
    if v is None:
        return f"CAST(NULL AS {_spark_type(ty)})"
    if kind == "boolean":
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float, Decimal)):
            # fractional JSON numbers pass through DOUBLE first
            # (1e-324 underflows to 0.0 → false)
            n = float(v) if not isinstance(v, int) else v
            return "TRUE" if n != 0 else "FALSE"
        if isinstance(v, str) and v.strip().lower() in ("true", "false"):
            return "TRUE" if v.strip().lower() == "true" else "FALSE"
        return None
    if kind in ("tinyint", "smallint", "integer", "bigint"):
        n = _num_of(v)
        if n is None:
            return None
        if isinstance(n, (float, Decimal)) and not isinstance(n, int):
            # the reference parses the JSON number into a DOUBLE before
            # rounding into integral targets; Decimal(float) is that
            # double's exact binary value
            n = int(
                Decimal(float(n)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
            )
        return f"CAST({n} AS {_spark_type(ty)})"
    if kind in ("double", "real"):
        n = _num_of(v)
        if n is None:
            return None
        return f"CAST({_mask(repr(float(n)), literals)} AS {_spark_type(ty)})"
    if kind == "dec":
        n = _num_of(v)
        if n is None:
            return None
        with localcontext() as ctx:
            ctx.prec = 60
            d = Decimal(n).quantize(
                Decimal(1).scaleb(-ty[2]), rounding=ROUND_HALF_UP
            )
        if len(d.as_tuple().digits) > ty[1]:
            return None
        return f"CAST({_mask(format(d, 'f'), literals)} AS {_spark_type(ty)})"
    if kind == "varchar":
        if isinstance(v, bool):
            s = "true" if v else "false"
        elif isinstance(v, (float, Decimal)) and not isinstance(v, int):
            # fractional JSON numbers surface through DOUBLE
            s = java_double_str(float(v))
        elif isinstance(v, int):
            s = str(v)
        elif isinstance(v, str):
            s = v
        else:
            return None
        return _mask(s, literals)
    if kind == "json":
        return _mask(
            _json.dumps(v, ensure_ascii=False, separators=(",", ":")), literals
        )
    if kind == "array":
        if not isinstance(v, list):
            return None
        els = [json_to_expr(e, ty[1], literals) for e in v]
        if any(e is None for e in els):
            return None
        inner = f"array({', '.join(els)})" if els else "array()"
        return f"CAST({inner} AS {_spark_type(ty)})"
    if kind == "map":
        if not isinstance(v, dict):
            return None
        pairs = []
        for k, val in v.items():
            ke = json_to_expr(_coerce_key(k, ty[1]), ty[1], literals)
            ve = json_to_expr(val, ty[2], literals)
            if ke is None or ve is None:
                return None
            pairs.append((ke, ve))
        if not pairs:
            return f"CAST(map() AS {_spark_type(ty)})"
        ks = ", ".join(p[0] for p in pairs)
        vs = ", ".join(p[1] for p in pairs)
        return (
            f"CAST(map_from_arrays(array({ks}), array({vs}))"
            f" AS {_spark_type(ty)})"
        )
    if kind == "row":
        fields = ty[1]
        if isinstance(v, list):
            if len(v) != len(fields):
                return None
            vals = list(v)
        elif isinstance(v, dict):
            vals = [v.get(name) if name else None for name, _ in fields]
        else:
            return None
        parts = []
        for i, ((name, ft), fv) in enumerate(zip(fields, vals)):
            fe = json_to_expr(fv, ft, literals)
            if fe is None:
                return None
            parts.append(f"'{name or f'field{i}'}', {fe}")
        return (
            f"CAST(named_struct({', '.join(parts)}) AS {_spark_type(ty)})"
        )
    return None


def _coerce_key(k: str, kt):
    """JSON object keys arrive as strings; hand the raw string to the
    key type's coercion (json_to_expr handles numeric/boolean strings)."""
    return k


def node_to_value(node):
    """Value tree → plain Python value (for routing literal constructor
    CASTs through the JSON coercion matrix)."""
    k = node[0]
    if k == "null":
        return None
    if k in ("bool", "int", "str"):
        return node[1]
    if k in ("double", "real"):
        return float(node[1])
    if k == "dec":
        return node[1]
    if k == "json":
        return _json.loads(node[1], parse_float=Decimal)
    if k in ("array", "row"):
        return [node_to_value(e) for e in node[1]]
    if k == "map":
        out = {}
        for kn, vn in node[1]:
            ks = _render_key(kn)
            if ks is None:
                raise ValueError("unrenderable key")
            out[ks] = node_to_value(vn)
        return out
    raise ValueError(k)
