"""Driver SQL tier: ``query_database`` answered by an in-process DuckDB.

The reference answers its NL→SQL path from an in-process SQLite store
(dspy_query_db.py:54-158). Here a statement Spark has already parsed and
analyzed runs in DuckDB when its *analyzed plan* stays inside a small
allowlist, over Arrow snapshots of the views ``register_tables`` made:

- plan nodes: Project, Filter, Aggregate (count / sum / min / max, with
  DISTINCT; sum over integral columns only), global Sort, GlobalLimit /
  LocalLimit, inner equi-Join, Distinct, SubqueryAlias, and as leaves the
  temp views this tier registered, with their child plan unchanged;
- expressions: columns, typed literals, comparisons (incl. ``<=>``),
  And / Or / Not, IN over a list, LIKE with a literal pattern and the
  default escape, CASE WHEN, IS [NOT] NULL and the int → bigint cast;
- column types int, bigint, string, boolean and double.

The DuckDB statement is generated from the plan, never from the user's
text, because the same text means different things in the two engines
(``'a\\tb'``, ``'a' 'b'``, ``"x"`` and the name of ``COUNT(*)`` all
differ). So: literals are typed, columns are named by expression id, each
sort key carries its NULLS FIRST / LAST, and the result is cast to the
plan's output types and named after its output attributes. Anything
else raises ``Unsupported`` and runs on Spark unchanged, as does any
DuckDB error. tests/test_serving_index.py pins the two tiers' envelopes
equal over a hypothesis grammar of allowlisted queries.

Snapshot rule: a view is copied (one ``collect_capped`` under the API's
``driver_threshold``) on its second allowlisted query;
its first runs on Spark, since a copy costs about two Spark queries. A
view over the limit is remembered and stays on Spark. A snapshot is
taken once: rows written to the view's source afterwards are not seen
until the API is reopened, as with the serving index.
"""

from __future__ import annotations

import json
import threading
import uuid

from .canonicalize import collect_capped

# Spark type name (as in the plan JSON) → DuckDB type, for every column
# and result type the tier handles
TYPES = {"integer": "INTEGER", "long": "BIGINT", "string": "VARCHAR",
         "boolean": "BOOLEAN", "double": "DOUBLE"}
_COMPARE = {"EqualTo": "=", "EqualNullSafe": "IS NOT DISTINCT FROM", "LessThan": "<",
            "LessThanOrEqual": "<=", "GreaterThan": ">", "GreaterThanOrEqual": ">="}


class Unsupported(Exception):
    """The plan leaves the allowlist: Spark answers."""


def _tree(flat: list) -> tuple:
    """A TreeNode.toJSON list (pre-order, ``num-children`` per node) as
    nested (node, [children]) pairs."""
    it = iter(flat)

    def build():
        node = next(it)
        return node, [build() for _ in range(node["num-children"])]
    return build()


def _kind(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _col(expr_id: int) -> str:
    return f'"e{expr_id}"'


def _literal(value, dtype: str) -> tuple[str, str]:
    if dtype in ("null", "void"):  # NullType: an untyped NULL
        return "NULL", "null"
    if dtype not in TYPES:
        raise Unsupported(f"literal of type {dtype}")
    if value is None:
        return f"CAST(NULL AS {TYPES[dtype]})", dtype
    if dtype == "string":
        if "\x00" in value:
            raise Unsupported("NUL in a string literal")
        return "'" + value.replace("'", "''") + "'", dtype
    if dtype == "double":  # repr spells nan, inf and -0.0 as DuckDB reads them
        return f"CAST('{float(value)!r}' AS DOUBLE)", dtype
    if dtype == "boolean":
        return {"true": "TRUE", "false": "FALSE"}[value], dtype
    return f"CAST({int(value)} AS {TYPES[dtype]})", dtype


def _like_pattern(node: dict) -> str:
    """A literal LIKE pattern whose escapes DuckDB reads as Spark does:
    a backslash only before %, _ or another backslash."""
    if _kind(node) != "Literal" or node["dataType"] != "string" or node["value"] is None:
        raise Unsupported("LIKE pattern is not a string literal")
    pat = node["value"]
    i = 0
    while i < len(pat):
        if pat[i] == "\\":
            if pat[i + 1:i + 2] not in ("%", "_", "\\"):
                raise Unsupported("LIKE escape DuckDB reads differently")
            i += 1
        i += 1
    return _literal(pat, "string")[0]


class _Compiler:
    """One analyzed plan as one DuckDB statement."""

    def __init__(self, views: dict):
        self.views = views
        self.leaves: list = []
        self.has_like = False

    # ---------------------------------------------------------- plans

    def plan(self, tree) -> tuple[str, list[tuple[int, str, str]]]:
        """(SQL, output as [(expr id, name, type)]) of a plan subtree."""
        node, kids = tree
        k = _kind(node)
        if k == "SubqueryAlias":
            return self.plan(kids[0])
        if k == "View":
            return self.view(node, kids[0])
        if k == "Join":
            return self.join(node, kids)
        if len(kids) != 1:
            raise Unsupported(k)
        sub, out = self.plan(kids[0])
        if k == "Project":
            items, out = self.items(node["projectList"], agg=False)
            return f"SELECT {items} FROM ({sub})", out
        if k == "Filter":
            return f"SELECT * FROM ({sub}) WHERE {self.expr(_tree(node['condition']))[0]}", out
        if k == "Aggregate":
            groups = [self.expr(_tree(g))[0] for g in node["groupingExpressions"]]
            items, out = self.items(node["aggregateExpressions"], agg=True)
            by = f" GROUP BY {', '.join(groups)}" if groups else ""
            return f"SELECT {items} FROM ({sub}){by}", out
        if k == "Sort" and node["global"]:
            keys = []
            for o in node["order"]:
                order, (child,) = _tree(o)
                if _kind(order) != "SortOrder":
                    raise Unsupported(_kind(order))
                asc = order["direction"]["object"].endswith("Ascending$")
                first = order["nullOrdering"]["object"].endswith("NullsFirst$")
                keys.append(f"{self.expr(child)[0]} {'ASC' if asc else 'DESC'} "
                            f"NULLS {'FIRST' if first else 'LAST'}")
            return f"SELECT * FROM ({sub}) ORDER BY {', '.join(keys)}", out
        if k in ("GlobalLimit", "LocalLimit"):
            lim, _ = _tree(node["limitExpr"])
            if _kind(lim) != "Literal" or lim["dataType"] != "integer" or lim["value"] is None:
                raise Unsupported("non-literal LIMIT")
            return f"SELECT * FROM ({sub}) LIMIT {int(lim['value'])}", out
        if k == "Distinct":
            return f"SELECT DISTINCT * FROM ({sub})", out
        raise Unsupported(k)

    def view(self, node: dict, child) -> tuple[str, list]:
        """A registered view's snapshot, if the view resolved to exactly
        the plan this tier registered under its name (``register``
        makes that plan unique, so a re-registered or foreign view
        never matches)."""
        if not node["isTempView"]:
            raise Unsupported("permanent view")
        view = self.views.get(node["desc"]["identifier"]["table"].lower())
        if view is None or view.plan() != child:  # resolved to another registration
            raise Unsupported("not a view this tier registered")
        self.leaves.append(view)
        cols = view.columns()
        sql = ", ".join(f'"c{p}" AS {_col(e)}' for p, e, _, _ in cols)
        return f'SELECT {sql} FROM "{view.table}"', [c[1:] for c in cols]

    def join(self, node: dict, kids: list) -> tuple[str, list]:
        if not node["joinType"]["object"].endswith(".Inner$") or not node["condition"]:
            raise Unsupported("not an inner join with a condition")
        (left, lout), (right, rout) = self.plan(kids[0]), self.plan(kids[1])
        cond = _tree(node["condition"])
        sides = {e for e, _, _ in lout}, {e for e, _, _ in rout}
        if not any(_crosses(c, *sides) for c in _conjuncts(cond)):
            raise Unsupported("join without an equality across its sides")
        return f"SELECT * FROM ({left}) JOIN ({right}) ON {self.expr(cond)[0]}", lout + rout

    def items(self, flat_items: list, agg: bool) -> tuple[str, list]:
        sql, out = [], []
        for flat in flat_items:
            node, kids = _tree(flat)
            k = _kind(node)
            if k == "AttributeReference":
                e, t = node["exprId"]["id"], self.expr((node, kids))[1]
                sql.append(_col(e))
            elif k == "Alias":
                body, t = self.expr(kids[0], agg)
                e = node["exprId"]["id"]
                sql.append(f"{body} AS {_col(e)}")
            else:
                raise Unsupported(k)
            out.append((e, node["name"], t))
        return ", ".join(sql), out

    # ---------------------------------------------------- expressions

    def expr(self, tree, agg: bool = False) -> tuple[str, str]:
        """(SQL, Spark type) of an expression tree; aggregate functions
        only where ``agg``."""
        node, kids = tree
        k = _kind(node)
        if k == "AttributeReference":
            if node["dataType"] not in TYPES:
                raise Unsupported(f"column of type {node['dataType']}")
            return _col(node["exprId"]["id"]), node["dataType"]
        if k == "Literal":
            return _literal(node["value"], node["dataType"])
        args = [self.expr(c, agg) for c in kids] if k != "AggregateExpression" else []
        if k in _COMPARE:
            (left, _), (right, _) = args
            return f"({left} {_COMPARE[k]} {right})", "boolean"
        if k in ("And", "Or"):
            return f"({args[0][0]} {k.upper()} {args[1][0]})", "boolean"
        if k == "Not":
            return f"(NOT {args[0][0]})", "boolean"
        if k in ("IsNull", "IsNotNull"):
            return f"({args[0][0]} IS {'NOT ' if k == 'IsNotNull' else ''}NULL)", "boolean"
        if k == "In":
            return f"({args[0][0]} IN ({', '.join(a for a, _ in args[1:])}))", "boolean"
        if k == "Like":
            self.has_like = True
            return f"({args[0][0]} LIKE {_like_pattern(kids[1][0])} ESCAPE '\\')", "boolean"
        if k == "CaseWhen":
            # children: cond, value, cond, value, ..., [else value]
            conds, values = args[0:len(args) - 1:2], args[1::2] + args[len(args) // 2 * 2:]
            whens = " ".join(f"WHEN {c} THEN {v}" for (c, _), (v, _) in zip(conds, values))
            other = f" ELSE {values[-1][0]}" if len(args) % 2 else ""
            types = {t for _, t in values} - {"null"}
            if len(types) > 1:
                raise Unsupported("CASE branches of different types")
            return f"(CASE {whens}{other} END)", types.pop() if types else "null"
        if k == "Cast":
            (body, src), dst = args[0], node["dataType"]
            if src == dst:
                return body, dst
            if dst in TYPES and (src == "null" or (src, dst) == ("integer", "long")):
                return f"CAST({body} AS {TYPES[dst]})", dst
            raise Unsupported(f"cast {src} to {dst}")
        if k == "AggregateExpression" and agg:
            return self.aggregate(node, kids)
        raise Unsupported(k)

    def aggregate(self, node: dict, kids: list) -> tuple[str, str]:
        if len(kids) != 1 or not node["mode"]["object"].endswith("Complete$"):
            raise Unsupported("aggregate with a FILTER or a partial mode")
        (fn, args), distinct = kids[0], "DISTINCT " if node["isDistinct"] else ""
        k = _kind(fn)
        if k not in ("Count", "Sum", "Min", "Max") or len(args) != 1:
            raise Unsupported(k)
        if k == "Count" and not distinct and _kind(args[0][0]) == "Literal":
            if args[0][0]["value"] is None:
                raise Unsupported("count(NULL)")
            return "count(*)", "long"
        arg, t = self.expr(args[0])
        if k == "Count":
            return f"count({distinct}{arg})", "long"
        if k == "Sum":  # double sums depend on the order of addition
            if t not in ("integer", "long"):
                raise Unsupported(f"sum of {t}")
            return f"CAST(sum({distinct}{arg}) AS BIGINT)", "long"
        return f"{k.lower()}({distinct}{arg})", t


def _conjuncts(tree):
    node, kids = tree
    if _kind(node) == "And":
        return _conjuncts(kids[0]) + _conjuncts(kids[1])
    return [tree]


def _crosses(tree, left: set, right: set) -> bool:
    """An equality between an expression of each join side."""
    node, kids = tree
    if _kind(node) != "EqualTo":
        return False
    a, b = (set(_refs(c)) for c in kids)
    return bool(a and b) and (a <= left and b <= right or a <= right and b <= left)


def _refs(tree):
    node, kids = tree
    if _kind(node) == "AttributeReference":
        yield node["exprId"]["id"]
    for c in kids:
        yield from _refs(c)


def compile_plan(flat: list, views: dict) -> tuple[str, list[str], list, bool]:
    """Spark's analyzed plan (its toJSON list) → (DuckDB SQL, output
    names, the views it reads, whether it has a LIKE); raises
    Unsupported outside the allowlist."""
    c = _Compiler(views)
    sql, out = c.plan(_tree(flat))
    if any(t not in TYPES for _, _, t in out):
        raise Unsupported("result type")
    cols = ", ".join(f"CAST({_col(e)} AS {TYPES[t]})" for e, _, t in out)
    return f"SELECT {cols} FROM ({sql})", [n for _, n, _ in out], c.leaves, c.has_like


class _View:
    """One registered view: its DataFrame, its analyzed plan and, from
    its second allowlisted query on, its snapshot table."""

    def __init__(self, df, table: str):
        self.df = df
        self.table = table
        self.queries = 0
        self.state = None  # "ready" (snapshot taken) / "spark" (over the limit)
        self._plan = self._columns = None

    def plan(self):
        if self._plan is None:
            self._plan = _tree(json.loads(self.df._jdf.queryExecution().analyzed().toJSON()))
        return self._plan

    def columns(self) -> list[tuple[int, int, str, str]]:
        """The output columns the snapshot holds, as (position, expr id,
        name, type): those of a TYPES type, in order."""
        if self._columns is None:
            out = self.df._jdf.queryExecution().analyzed().output()
            attrs = [out.apply(i) for i in range(out.size())]
            cols = [(p, a.exprId().id(), a.name(), a.dataType().typeName())
                    for p, a in enumerate(attrs)]
            self._columns = [c for c in cols if c[3] in TYPES]
        return self._columns


class DriverSQL:
    """The DuckDB side of query_database for one API: the registered
    views, their snapshots (one DuckDB connection) and a cursor per
    client thread."""

    def __init__(self, cap: int):
        self.cap = cap
        self._views: dict[str, _View] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._con = None

    def register(self, name: str, df):
        """Track ``df`` as view ``name``; returns the DataFrame to register
        in its place. That one carries an alias unique to this call, so
        its plan matches no other registration's (plans can otherwise
        be equal: two checkpoints of differently filtered frames both
        scan a LogicalRDD with the same attributes)."""
        table = f"v{uuid.uuid4().hex}"
        df = df.alias(table)
        with self._lock:
            old = self._views.get(name.lower())
            if old is not None and old.state == "ready":
                self._con.execute(f'DROP TABLE "{old.table}"')
            self._views[name.lower()] = _View(df, table)
        return df

    def prepare(self, df):
        """(DuckDB SQL, output names) answering the analyzed ``df``, or
        None when Spark must: a plan outside the allowlist, or a view
        without a snapshot yet (this query may take it)."""
        try:
            analyzed = df._jdf.queryExecution().analyzed()
            sql, names, leaves, has_like = compile_plan(json.loads(analyzed.toJSON()),
                                                        self._views)
            # the plan JSON drops Like's escape character; its text shows
            # a non-default one as "ESCAPE '<c>'"
            if has_like and "ESCAPE '" in analyzed.toString():
                raise Unsupported("LIKE with an ESCAPE clause")
        except Exception:  # noqa: BLE001 — Unsupported or a plan shape not foreseen
            return None
        ready = [self._snapshot(v) for v in dict.fromkeys(leaves)]
        return (sql, names) if all(ready) else None

    def _snapshot(self, view: _View) -> bool:
        with self._lock:
            if view.state is None:
                view.queries += 1
                if view.queries >= 2:
                    view.state = "spark"  # unless the copy below fits
                    self._copy(view)
            return view.state == "ready"

    def _copy(self, view: _View) -> None:
        """The view's TYPES columns into DuckDB as table ``view.table``
        (column ``c<position>``), through one capped Arrow collect."""
        df, cols = view.df, [f"c{p}" for p, *_ in view.columns()]
        if not cols:
            return
        try:
            tbl = collect_capped(df.toDF(*[f"c{p}" for p in range(len(df.columns))])
                                 .select(*cols), self.cap)
        except Exception:  # noqa: BLE001 — the Spark tier reports it
            return
        if tbl is not None:
            con = self._connect()
            con.register("snapshot_in", tbl)
            con.execute(f'CREATE TABLE "{view.table}" AS SELECT * FROM snapshot_in')
            con.unregister("snapshot_in")
            view.state = "ready"

    def _connect(self):
        if self._con is None:
            import duckdb  # lazily: only an API that snapshots pays the import

            self._con = duckdb.connect()
        return self._con

    def cursor(self):
        """This client thread's cursor on the snapshot database."""
        cur = getattr(self._local, "cursor", None)
        if cur is None:
            with self._lock:
                cur = self._local.cursor = self._con.cursor()
        return cur
