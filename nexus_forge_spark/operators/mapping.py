"""DictionaryMapping rule compiler: hjson rule trees -> Spark Column plans.

The reference applies mapping rules per record with ``eval(rule, {forge, x})``
(kgforge/specializations/mappers/dictionaries.py:31-62).  Here the rule tree
is compiled ONCE on the driver into a nested Column expression; the whole
corpus is mapped in a single ``df.select`` — no per-row Python anywhere
(the reference's own comment at kgforge/core/archetypes/mapper.py:64-69
admits per-record looping blocks "proper parallel/distributed processing").

Preserved eval semantics (dictionaries.py:51-62):
* value parses & references only known names  -> compiled expression
* SyntaxError / NameError                     -> literal string fallback
* reference to a missing source field         -> AttributeError at compile
  time (the reference raises per-record; our schema is uniform, so compile
  time is the faithful set-oriented equivalent —
  tests/specializations/mappers/test_mappers.py:41-58)

Supported rule vocabulary (the fixture corpus, SURVEY.md M5):
``x.a.b``, f-strings, str methods (lower/upper/strip/split/join), indexing
incl. negative, ternary ``a if c else b``, comparisons / ``is (not) None``,
dict/list literals, ``forge.format(name, *args)`` (STR formatter,
core/commons/formatter.py:19-22), ``forge.resolve(...)`` (pre-joined
column — SURVEY.md §3.2), ``forge.attach(path, content_type)``
(media ref as data, core/forge.py:798-809).
"""

from __future__ import annotations

import ast
import json
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class RuleCompileError(Exception):
    pass


@dataclass
class ResolveSite:
    """One forge.resolve(...) call site found in a rule tree."""

    site_id: int
    arg: ast.expr  # the mention expression (compiled against x)
    scope: str | None = None
    target: str | None = None
    type: str | None = None
    strategy: str = "BEST_MATCH"


@dataclass
class ForgeContext:
    """Driver-side configuration mirror of KnowledgeGraphForge: formatter
    templates (str.format positional) and resolver dimension tables keyed by
    (scope, target) — target=None is the scope's default."""

    formatters: dict[str, str] = field(default_factory=dict)
    # (scope, target|None) -> dim DataFrame with dict_idx + id/type/label + match props
    resolver_dims: dict[tuple[str, str | None], tuple[DataFrame, list[str]]] = field(
        default_factory=dict
    )

    def dim_for(self, scope: str | None, target: str | None):
        for key in ((scope, target), (scope, None)):
            if key in self.resolver_dims:
                return self.resolver_dims[key]
        raise RuleCompileError(f"no resolver dim for scope={scope!r} target={target!r}")


class _Placeholder:
    """Marks a resolve-site column to be substituted after the pre-join."""

    def __init__(self, site: ResolveSite):
        self.site = site


RESOLVE_STRUCT_FIELDS = ("id", "type", "label")


class _StructBuilder:
    """A compiled dict literal: ordered field -> Column.  Kept unassembled so
    ternaries can unify field sets across branches before F.struct."""

    def __init__(self, fields: dict):
        self.fields = fields


class _EvalFallback:
    """Rule expression the compiler can't express as Columns — evaluated by
    a batch pandas UDF instead (the escape hatch of SURVEY.md §7: still
    Arrow-batched, Python only at batch granularity).  Output is string."""

    def __init__(self, expr: str):
        self.expr = expr


class _X:
    """DictWrapper analogue for the eval fallback: attribute access over a
    row dict, recursing into nested dicts (core/wrappings/dict.py:18-40
    semantics, written from scratch)."""

    def __init__(self, d: dict):
        object.__setattr__(self, "_d", d)

    def __getattr__(self, name: str):
        d = object.__getattribute__(self, "_d")
        if name not in d:
            raise AttributeError(f"object has no attribute {name!r}")
        v = d[name]
        return _X(v) if isinstance(v, dict) else v


class RuleCompiler:
    """Compiles one rule tree against a source schema."""

    def __init__(self, schema: T.StructType, ctx: ForgeContext, na: list | None = None):
        self.schema = schema
        self.ctx = ctx
        self.na = na or []
        self.sites: list[ResolveSite] = []

    def _with_na(self, col: Column) -> Column:
        """na dropping at the leaf (Resource.from_json drops na-valued
        properties, core/resource.py:147-160; fixed schemas make that a
        null-out instead of a key drop)."""
        if not self.na:
            return col
        return F.when(col.isin(self.na), F.lit(None)).otherwise(col)

    # -- tree ---------------------------------------------------------------

    def compile_tree(self, rules):
        """rules (dict/list/leaf) -> builder tree where leaves are Column or
        _Placeholder; dicts/lists are assembled in to_column()."""
        if isinstance(rules, dict):
            return {k: self.compile_tree(v) for k, v in rules.items()}
        if isinstance(rules, list):
            return [self.compile_tree(v) for v in _widen_conflicting_literals(rules)]
        if isinstance(rules, str):
            leaf = self.compile_leaf(rules)
            if isinstance(leaf, (_Placeholder, _EvalFallback)):
                return leaf  # na applied at realization
            return self._with_na(leaf)
        return F.lit(rules)  # numbers / booleans / None straight from hjson

    def compile_leaf(self, expr: str):
        try:
            tree = ast.parse(expr.strip(), mode="eval")
        except SyntaxError:
            return F.lit(expr)  # eval SyntaxError -> literal (dictionaries.py:59-62)
        if self._has_unknown_names(tree):
            return F.lit(expr)  # eval NameError -> literal
        n_sites = len(self.sites)
        try:
            return self._compile_node(tree.body)
        except RuleCompileError:
            # expressible in eval but not in Columns -> pandas-batch eval;
            # drop any ResolveSite registered by a partially-compiled
            # forge.resolve sub-expression, else map_dataframe would run a
            # dead broadcast alias join whose __resolve_N column nothing reads
            del self.sites[n_sites:]
            return _EvalFallback(expr.strip())

    def _has_unknown_names(self, tree: ast.AST) -> bool:
        import builtins

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Name)
                and node.id not in ("x", "forge")
                and not hasattr(builtins, node.id)  # eval sees builtins
            ):
                return True
        return False

    # -- expressions --------------------------------------------------------

    def _compile_node(self, node: ast.expr):
        if isinstance(node, ast.Constant):
            return F.lit(node.value) if node.value is not None else F.lit(None)
        if isinstance(node, ast.Attribute):
            return self._compile_attribute(node)
        if isinstance(node, ast.Subscript):
            return self._compile_subscript(node)
        if isinstance(node, ast.Call):
            return self._compile_call(node)
        if isinstance(node, ast.JoinedStr):
            return self._compile_fstring(node)
        if isinstance(node, ast.IfExp):
            test = self._as_column(self._compile_node(node.test))
            body = self._compile_node(node.body)
            orelse = self._compile_node(node.orelse)
            bf = self._branch_fields(body)
            of = self._branch_fields(orelse)
            if bf is not None and of is not None and list(bf) != list(of):
                # heterogeneous struct branches (reference eval returns
                # whatever Python object each branch yields, e.g. DemoDB
                # Example.hjson: resolve-result vs {'label': x.subject});
                # Spark's CASE WHEN needs ONE struct type -> unify to the
                # field union, missing fields null
                allf = list(bf) + [f for f in of if f not in bf]

                def _build(d: dict) -> Column:
                    # pad missing fields with an UNTYPED null (NullType):
                    # Catalyst's CASE WHEN coercion widens NullType to the
                    # other branch's field type field-wise, so a non-string
                    # field (numeric, nested struct, array) keeps its type
                    # instead of being silently stringified or failing
                    return F.struct(
                        *[(d[f] if f in d else F.lit(None)).alias(f) for f in allf]
                    )

                return F.when(test, _build(bf)).otherwise(_build(of))
            return F.when(test, self._as_column(body)).otherwise(
                self._as_column(orelse)
            )
        if isinstance(node, ast.Compare):
            return self._compile_compare(node)
        if isinstance(node, ast.BoolOp):
            cols = [self._as_column(self._compile_node(v)) for v in node.values]
            out = cols[0]
            for c in cols[1:]:
                out = (out & c) if isinstance(node.op, ast.And) else (out | c)
            return out
        if isinstance(node, ast.UnaryOp):
            operand = self._as_column(self._compile_node(node.operand))
            if isinstance(node.op, ast.Not):
                return ~operand
            if isinstance(node.op, ast.USub):
                return -operand
            raise RuleCompileError(f"unsupported unary op {ast.dump(node.op)}")
        if isinstance(node, ast.BinOp):
            left = self._as_column(self._compile_node(node.left))
            right = self._as_column(self._compile_node(node.right))
            ops = {
                ast.Add: lambda a, b: a + b,
                ast.Sub: lambda a, b: a - b,
                ast.Mult: lambda a, b: a * b,
                ast.Div: lambda a, b: a / b,
                ast.Mod: lambda a, b: a % b,
            }
            for op_t, fn in ops.items():
                if isinstance(node.op, op_t):
                    return fn(left, right)
            raise RuleCompileError(f"unsupported binop {ast.dump(node.op)}")
        if isinstance(node, ast.Dict):
            if not node.keys:
                return F.lit(None).cast("string")  # {} -> no facts
            fields: dict[str, Column] = {}
            for k, v in zip(node.keys, node.values):
                if not isinstance(k, ast.Constant) or not isinstance(k.value, str):
                    raise RuleCompileError("dict keys must be string constants")
                fields[k.value] = self._as_column(self._compile_node(v))
            return _StructBuilder(fields)
        if isinstance(node, (ast.List, ast.Tuple)):
            return F.array(*[self._as_column(self._compile_node(e)) for e in node.elts])
        raise RuleCompileError(f"unsupported expression: {ast.dump(node)[:120]}")

    def _compile_attribute(self, node: ast.Attribute):
        path = self._x_path(node)
        if path is not None:
            return self._source_col(path)
        raise RuleCompileError(f"unsupported attribute {ast.dump(node)[:120]}")

    def _x_path(self, node: ast.expr) -> list[str] | None:
        """x.a.b -> ['a','b'] ; None if the chain is not rooted at x."""
        parts: list[str] = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name) and node.id == "x":
            return list(reversed(parts))
        return None

    def _source_col(self, path: list[str]) -> Column:
        # AttributeError parity: reference raises when the record lacks the
        # attribute (test_mappers.py:41-58); schema-level check here.
        current: T.DataType = self.schema
        for p in path:
            if not isinstance(current, T.StructType) or p not in current.fieldNames():
                raise AttributeError(f"object has no attribute {p!r}")
            current = current[p].dataType
        return F.col(".".join(f"`{p}`" for p in path))

    def _compile_subscript(self, node: ast.Subscript):
        base = self._as_column(self._compile_node(node.value))
        idx = node.slice
        if isinstance(idx, ast.UnaryOp) and isinstance(idx.op, ast.USub) and isinstance(
            idx.operand, ast.Constant
        ):
            i = -idx.operand.value
        elif isinstance(idx, ast.Constant) and isinstance(idx.value, int):
            i = idx.value
        elif isinstance(idx, ast.Constant) and isinstance(idx.value, str):
            # dict-style access on nested records: x.a[0]["k"] (MouseLight
            # fixtures) — struct field lookup
            return base.getField(idx.value)
        else:
            raise RuleCompileError("only constant int/str subscripts supported")
        # python 0-based / negative -> element_at 1-based / negative
        return F.element_at(base, i + 1 if i >= 0 else i)

    def _compile_fstring(self, node: ast.JoinedStr):
        parts = []
        for v in node.values:
            if isinstance(v, ast.Constant):
                parts.append(F.lit(str(v.value)))
            elif isinstance(v, ast.FormattedValue):
                parts.append(self._as_column(self._compile_node(v.value)).cast("string"))
            else:
                raise RuleCompileError("unsupported f-string part")
        return F.concat(*parts) if parts else F.lit("")

    def _compile_compare(self, node: ast.Compare):
        if len(node.ops) != 1:
            raise RuleCompileError("chained comparisons unsupported")
        left_n, op, right_n = node.left, node.ops[0], node.comparators[0]
        # `expr is None` / `expr is not None`
        if isinstance(op, (ast.Is, ast.IsNot)) and (
            isinstance(right_n, ast.Constant) and right_n.value is None
        ):
            col = self._as_column(self._compile_node(left_n))
            return col.isNull() if isinstance(op, ast.Is) else col.isNotNull()
        left = self._as_column(self._compile_node(left_n))
        if isinstance(op, ast.In) and isinstance(right_n, (ast.List, ast.Tuple)):
            vals = [
                e.value if isinstance(e, ast.Constant) else None for e in right_n.elts
            ]
            return left.isin(vals)
        right = self._as_column(self._compile_node(right_n))
        mapping = {
            ast.Eq: lambda a, b: a == b,
            ast.NotEq: lambda a, b: a != b,
            ast.Lt: lambda a, b: a < b,
            ast.LtE: lambda a, b: a <= b,
            ast.Gt: lambda a, b: a > b,
            ast.GtE: lambda a, b: a >= b,
        }
        for op_t, fn in mapping.items():
            if isinstance(op, op_t):
                return fn(left, right)
        raise RuleCompileError(f"unsupported comparison {ast.dump(op)}")

    def _compile_call(self, node: ast.Call):
        fn = node.func
        # forge.* calls
        if isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name) and fn.value.id == "forge":
            return self._compile_forge_call(fn.attr, node)
        # 'sep'.join(expr)
        if (
            isinstance(fn, ast.Attribute)
            and fn.attr == "join"
            and isinstance(fn.value, ast.Constant)
            and isinstance(fn.value.value, str)
        ):
            arr = self._as_column(self._compile_node(node.args[0]))
            return F.array_join(arr, fn.value.value)
        # method calls on a compiled expression
        if isinstance(fn, ast.Attribute):
            base = self._as_column(self._compile_node(fn.value))
            return self._compile_method(base, fn.attr, node)
        # bare str()/int()/float() over x-paths would need Name root; eval
        # would find them as builtins — treat as casts.
        if isinstance(fn, ast.Name) and fn.id in ("str", "int", "float"):
            arg = self._as_column(self._compile_node(node.args[0]))
            return arg.cast({"str": "string", "int": "long", "float": "double"}[fn.id])
        raise RuleCompileError(f"unsupported call {ast.dump(node)[:120]}")

    def _compile_method(self, base: Column, name: str, node: ast.Call):
        args = [self._compile_node(a) for a in node.args]
        if name == "lower":
            return F.lower(base)
        if name == "upper":
            return F.upper(base)
        if name == "strip":
            return F.trim(base)
        if name == "title":
            return F.initcap(base)
        if name == "split":
            if args:
                sep = node.args[0]
                if not (isinstance(sep, ast.Constant) and isinstance(sep.value, str)):
                    raise RuleCompileError("split() separator must be a constant")
                return F.split(base, re.escape(sep.value))
            return F.split(F.trim(base), r"\s+")  # str.split() whitespace semantics
        if name == "replace":
            a, b = node.args
            if not (isinstance(a, ast.Constant) and isinstance(b, ast.Constant)):
                raise RuleCompileError("replace() args must be constants")
            return F.regexp_replace(base, re.escape(a.value), b.value.replace("\\", "\\\\"))
        if name == "startswith":
            return base.startswith(node.args[0].value)
        if name == "endswith":
            return base.endswith(node.args[0].value)
        raise RuleCompileError(f"unsupported method .{name}()")

    def _compile_forge_call(self, name: str, node: ast.Call):
        if name == "format":
            if not node.args:
                raise RuleCompileError("forge.format needs a template name")
            tmpl_name = node.args[0]
            if not isinstance(tmpl_name, ast.Constant):
                raise RuleCompileError("forge.format template name must be constant")
            template = self.ctx.formatters.get(tmpl_name.value)
            if template is None:
                raise RuleCompileError(f"unknown formatter {tmpl_name.value!r}")
            fmt = template.replace("%", "%%").replace("{}", "%s")
            if re.search(r"\{[^}]+\}", fmt):
                raise RuleCompileError("only positional {} formatter templates supported")
            args = [
                self._as_column(self._compile_node(a)).cast("string")
                for a in node.args[1:]
            ]
            return F.format_string(fmt, *args)
        if name == "resolve":
            site = ResolveSite(site_id=len(self.sites), arg=node.args[0])
            for kw in node.keywords:
                if kw.arg in ("scope", "target", "type", "strategy") and isinstance(
                    kw.value, ast.Constant
                ):
                    setattr(site, kw.arg, kw.value.value)
            # identical call sites share one pre-join (common in rules like
            # `forge.resolve(t) if forge.resolve(t) is not None else ...`)
            key = (ast.dump(site.arg), site.scope, site.target, site.type, site.strategy)
            for existing in self.sites:
                if (
                    ast.dump(existing.arg),
                    existing.scope,
                    existing.target,
                    existing.type,
                    existing.strategy,
                ) == key:
                    return _Placeholder(existing)
            self.sites.append(site)
            return _Placeholder(site)
        if name == "attach":
            path = self._as_column(self._compile_node(node.args[0]))
            content_type = None
            for kw in node.keywords:
                if kw.arg == "content_type" and isinstance(kw.value, ast.Constant):
                    content_type = kw.value.value
            if content_type is None and len(node.args) > 1:
                ct = node.args[1]
                content_type = ct.value if isinstance(ct, ast.Constant) else None
            # LazyAction analogue: media ref is data (core/forge.py:798-809)
            return F.struct(
                F.lit("DataDownload").alias("type"),
                path.alias("contentUrl"),
                F.lit(content_type).cast("string").alias("encodingFormat"),
            )
        raise RuleCompileError(f"unsupported forge.{name}(...)")

    def _as_column(self, value) -> Column:
        if isinstance(value, _Placeholder):
            return F.col(f"__resolve_{value.site.site_id}")
        if isinstance(value, _StructBuilder):
            return F.struct(*[c.alias(k) for k, c in value.fields.items()])
        if isinstance(value, Column):
            return value
        raise RuleCompileError(f"expected column, got {type(value)}")

    def _branch_fields(self, compiled) -> dict | None:
        """Ordered field -> Column map of a struct-producing branch, or None
        when the branch's struct shape is unknown."""
        if isinstance(compiled, _Placeholder):
            c = self._as_column(compiled)
            return {f: c.getField(f) for f in RESOLVE_STRUCT_FIELDS}
        if isinstance(compiled, _StructBuilder):
            return dict(compiled.fields)
        return None


class _WorkerForge:
    """The forge.* surface available inside the eval fallback: format and
    attach are pure functions of the row, so they work batch-side; resolve
    needs the pre-join machinery and cannot run here."""

    def __init__(self, formatters: dict[str, str]):
        self._formatters = formatters

    def format(self, name: str, *args) -> str:
        return self._formatters[name].format(*args)

    def attach(self, path: str, content_type: str | None = None) -> dict:
        return {"type": "DataDownload", "contentUrl": path, "encodingFormat": content_type}

    def resolve(self, *_a, **_k):
        raise RuleCompileError(
            "forge.resolve inside an eval-fallback rule: the expression around"
            " the resolve call is not Column-compilable, and resolve cannot run"
            " per-batch (it is a corpus-level join)"
        )


def _make_eval_column(
    expr: str, source_cols: list[str], formatters: dict[str, str] | None = None
) -> Column:
    """Arrow-batched eval of a rule expression over the source row struct."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    fmts = dict(formatters or {})

    def ev(rows):
        # builtins are resolved HERE, on the executor, not captured in the
        # closure: cloudpickle would otherwise serialize the builtins dict,
        # which pybind11 extensions (e.g. duckdb) poison with an unpicklable
        # PyCapsule entry the moment they are imported in the driver process
        import builtins as _builtins

        forge = _WorkerForge(fmts)
        out = []
        for rec in rows.to_dict("records"):
            v = eval(  # noqa: S307
                expr, {"__builtins__": _builtins}, {"x": _X(rec), "forge": forge}
            )
            out.append(None if v is None else str(v))
        return pd.Series(out, dtype="object")

    udf = pandas_udf(ev, "string", PandasUDFType.SCALAR)
    return udf(F.struct(*[F.col(f"`{c}`") for c in source_cols]))


def _literal_kind(v):
    """Predicted post-eval type class of a raw rule leaf ('num'/'str'/'dyn')."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "num"
    if not isinstance(v, str):
        return "dyn"
    try:
        body = ast.parse(v.strip(), mode="eval").body
    except SyntaxError:
        return "str"  # eval SyntaxError -> stays a literal string
    if isinstance(body, ast.Constant):
        if isinstance(body.value, bool):
            return "bool"
        if isinstance(body.value, (int, float)):
            return "num"
        return "str"
    if isinstance(body, ast.Name) and body.id not in ("x", "forge"):
        return "str"  # NameError fallback
    return "dyn"


def _widen_conflicting_literals(elements: list) -> list:
    """Rule lists whose elements put DIFFERENT literal types at the same path
    (the reference's eval happily yields [{'value': 'MGI:99572'},
    {'value': 14527}]) cannot become one Spark array<struct> — numeric
    leaves at conflicting paths are widened to strings (a documented
    divergence: Spark arrays are homogeneous; values compare equal as text)."""
    if len(elements) < 2:
        return elements
    kinds: dict[tuple, set] = {}

    def walk(v, path: tuple):
        if isinstance(v, dict):
            for k, sv in v.items():
                walk(sv, path + (k,))
        elif isinstance(v, list):
            for sv in v:
                walk(sv, path + ("[]",))
        elif v is not None:
            kinds.setdefault(path, set()).add(_literal_kind(v))

    for el in elements:
        walk(el, ())
    conflicted = {p for p, ks in kinds.items() if "num" in ks and "str" in ks}
    if not conflicted:
        return elements

    def rewrite(v, path: tuple):
        if isinstance(v, dict):
            return {k: rewrite(sv, path + (k,)) for k, sv in v.items()}
        if isinstance(v, list):
            return [rewrite(sv, path + ("[]",)) for sv in v]
        if path in conflicted and _literal_kind(v) == "num":
            if isinstance(v, str):
                return json.dumps(str(ast.literal_eval(v.strip())))
            return json.dumps(str(v))
        return v

    return [rewrite(el, ()) for el in elements]


def _tree_to_column(tree, compiler: RuleCompiler, source_cols: list[str]) -> Column:
    if isinstance(tree, dict):
        return F.struct(
            *[_tree_to_column(v, compiler, source_cols).alias(k) for k, v in tree.items()]
        )
    if isinstance(tree, list):
        return F.array(*[_tree_to_column(v, compiler, source_cols) for v in tree])
    if isinstance(tree, _EvalFallback):
        return compiler._with_na(
            _make_eval_column(tree.expr, source_cols, compiler.ctx.formatters)
        )
    return compiler._as_column(tree)


def map_dataframe(
    df: DataFrame,
    rules: dict,
    ctx: ForgeContext | None = None,
    na: list | str | None = None,
) -> DataFrame:
    """Apply a DictionaryMapping rule tree to every row of ``df``.

    Output: one column per top-level rule key (nested rules -> structs),
    field order == rule order (mapping key order is semantic,
    specializations/mappings/dictionaries.py:31-48).

    forge.resolve sites become pre-joined columns: distinct argument values
    are resolved once via the broadcast alias join, then joined back —
    the plan the reference *wishes* it had (SURVEY.md §3.1).

    A ``rules`` that is not a dict raises ``RuleCompileError`` naming its
    type and value: ``load_mapping`` reads a path to a missing file as raw
    hjson text, which parses to that path string.
    """
    if not isinstance(rules, dict):
        raise RuleCompileError(
            f"mapping must be a dict of top-level rules, got {type(rules).__name__}: "
            f"{str(rules)[:120]!r}"
        )
    ctx = ctx or ForgeContext()
    na_list = None if na is None else (na if isinstance(na, list) else [na])
    compiler = RuleCompiler(df.schema, ctx, na=na_list)
    tree = compiler.compile_tree(rules)

    work = df
    if compiler.sites:
        from nexus_forge_spark.operators import resolve as R

        for site in compiler.sites:
            arg_col = compiler._as_column(compiler._compile_node(site.arg))
            key = f"__arg_{site.site_id}"
            work = work.withColumn(key, arg_col.cast("string"))
            dim_idx, match_props = ctx.dim_for(site.scope, site.target)
            alias_table = R.build_alias_table(dim_idx, match_props, type_filter=site.type)
            vals = work.select(F.col(key).alias("mention")).where(
                F.col("mention").isNotNull()
            ).distinct()
            hits = R.resolve(vals, alias_table, site.strategy, keys=["mention"])
            # result-resource mapping: keep id/type/label
            # (examples/configurations/demo-resolver/term-to-resource-mapping.hjson)
            dim_info = dim_idx.select(
                F.col("id").alias("entity_id"),
                F.col("type").alias("_rtype"),
                F.col("label").alias("_rlabel"),
            )
            shaped = (
                hits.join(F.broadcast(dim_info), "entity_id")
                .select(
                    F.col("mention").alias(f"__m_{site.site_id}"),
                    F.struct(
                        F.col("entity_id").alias("id"),
                        F.col("_rtype").alias("type"),
                        F.col("_rlabel").alias("label"),
                    ).alias(f"__resolve_{site.site_id}"),
                )
            )
            work = work.join(
                F.broadcast(shaped),
                work[key] == shaped[f"__m_{site.site_id}"],
                "left",
            ).drop(f"__m_{site.site_id}")

    source_cols = list(df.columns)
    out_cols = [_tree_to_column(v, compiler, source_cols).alias(k) for k, v in tree.items()]
    return work.select(*out_cols)


def load_mapping(path_or_str: str) -> dict:
    """Mapping.load autodetect (core/archetypes/mapping.py:57-103): URL,
    file path, or raw hjson string — checked in that order, like the
    reference (is_valid_url -> Path.is_file -> raw text)."""
    import os
    from urllib.parse import urlparse

    from nexus_forge_spark.functions import hjson

    parsed = urlparse(path_or_str)
    if parsed.scheme in ("http", "https", "file") and parsed.path:
        from urllib.request import urlopen

        with urlopen(path_or_str) as resp:  # noqa: S310 — mapping source URL
            return hjson.loads(resp.read().decode("utf-8"))
    if os.path.exists(path_or_str):
        return hjson.load(path_or_str)
    return hjson.loads(path_or_str)
