"""Serving facade: the reference's agent-tool surface over Spark tables.

One class, same tool names and semantics as the reference's DSPy ReAct
toolset (dspy_inference.py:37-154) and NL2SQL envelope
(dspy_query_db.py:54-158), so a user of the reference can switch
engines and keep their call sites:

- find_nodes_by_node_type      (dspy_inference.py:37-62  → G1)
- batch_find_nodes_by_node_type(dspy_inference.py:64-78  → G2; the
  reference passes the whole list where one node was meant — bug not
  replicated, each start node is traversed independently)
- get_unique_vector_query_results (dspy_inference.py:80-123 → G7,
  filter-before-rank fix documented in SURVEY §2.8)
- get_node_attribute           (dspy_inference.py:125-133 → G3)
- get_adjacent_node_descriptions (dspy_inference.py:134-142 → G4)
- nodes_count                  (dspy_inference.py:144-154 → A1)
- query_database               (dspy_query_db.py:54-158 → S5; the LLM
  NL→SQL step stays at the driver — this engine executes the SQL with
  the same markdown-fence stripping and result envelope, read-only
  queries only, at most MAX_SQL_ROWS rows)
- format_results               (dspy_query_db.py:170-204 → A8 max-width
  table rendering of the envelope)
- save_interaction / load_interactions (app.py:253-275 saved-data JSON
  → S9, re-expressed as O(record) atomic per-id files, DataFrame-loadable)

Two tiers answer the six graph/lookup/vector tools, chosen by one row
limit, ``driver_threshold``, at the tier gate ``collect_capped``:

- index tier: nodes of at most ``driver_threshold`` rows are collected
  once, as an Arrow table, into an immutable driver index
  (``_ServingIndex``), like the reference's in-RAM NetworkX graph and
  vector store (react_tools.py:45-65, nanovector_db.py:69-110). The
  embeddings join it when the API opens, the edges on the first
  graph-tool call (a both-direction CSR adjacency, built lazily so that
  a restart answering only lookups never collects them), each under the
  same row limit. Each tool call is then plain numpy/dict work: zero
  Spark jobs. The index is a snapshot taken at open: rows written to the
  tables afterwards are not seen.
- Spark tier: above the limit (or with ``driver_threshold=0``) each call
  runs the distributed ``traverse`` / ``vectorize`` functions over the
  cached tables (cached on the first graph call when only the edges are
  over the limit).

Both tiers return the same answers (tests/test_serving_index.py).

query_database has the same two tiers under the same limit
(``sql_tier.DriverSQL``): a statement whose analyzed Spark plan stays in
a small allowlist runs in an in-process DuckDB over Arrow snapshots of
the registered views (taken on a view's second such query, each at most
``driver_threshold`` rows), compiled from the plan, not from the text.
Everything else runs on Spark. Both tiers stop a query at SQL_DEADLINE_S.

The X5 ReAct loop itself is LLM orchestration, not engine code; these
are the engine entry points it calls.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
import uuid
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.errors import ParseException
from pyspark.errors.exceptions.captured import capture_sql_exception
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import collect_capped
from .sql_tier import DriverSQL
from .traverse import MAX_HOPS, NODE_HIERARCHY
from .traverse import find_nodes_by_node_type as _bfs
from .traverse import get_adjacent_descriptions
from .vectorize import cosine_topk, hash_embed_text

# Row limit per table for the driver index (nodes, edges, embeddings). At
# the limit (4-core host), 500k node rows index in ~4 s and hold ~450 MB of
# driver memory, and 500k edges build their adjacency in ~0.4 s; bigger
# tables stay on the Spark tier.
DRIVER_THRESHOLD = 500_000
# query_database collects at most this many rows ("truncated": True beyond).
MAX_SQL_ROWS = 10_000
# query_database stops a query that runs longer (seconds; read per call)
SQL_DEADLINE_S = 60.0


def _segments(ptr: np.ndarray, sel: np.ndarray):
    """Flat indices of the CSR slices ptr[i]:ptr[i+1] for i in sel, and
    each slice's length (one vector op per BFS hop, no per-node loop)."""
    lo = ptr[sel]
    n = ptr[sel + 1] - lo
    ends = np.cumsum(n)
    return np.repeat(lo - ends + n, n) + np.arange(ends[-1] if len(n) else 0), n


@contextmanager
def _deadline(stop):
    """Call ``stop`` (once) if the block outlasts SQL_DEADLINE_S; the
    block's error is then reported as the deadline."""
    limit = SQL_DEADLINE_S
    lock = threading.Lock()
    state = {"running": True, "fired": False}

    def fire():
        with lock:
            if state["running"]:
                state["fired"] = True
                stop()

    timer = threading.Timer(limit, fire)
    timer.daemon = True
    timer.start()
    try:
        yield
    except Exception as e:
        if state["fired"]:
            raise TimeoutError(f"query stopped at the {limit} s deadline") from e
        raise
    finally:
        with lock:
            state["running"] = False
        timer.cancel()


def _objects(table: pa.Table, col: str) -> np.ndarray:
    """A column of an Arrow table as an object array (None for NULL)."""
    return np.asarray(table[col].to_pylist(), dtype=object)


class _ServingIndex:
    """Driver-resident snapshot of a warehouse. Read-only once built;
    the one mutation, the lazy adjacency build, runs under a lock.

    Nodes are kept per distinct (node_id, node_type) "typed row", grouped
    by node position, because the traversal semantics are per typed row:
    a node listed twice with two types is expanded from, and reached as,
    each type separately (exactly what the Spark tier's joins do).
    """

    def __init__(self, nodes: pa.Table, hierarchy: dict[str, int], emb: pa.Table | None):
        self.nodes = nodes
        self.total = len(nodes)
        ids, types, node_names = (nodes[c].to_pylist() for c in ("node_id", "node_type", "name"))
        self.type_counts = Counter(types)
        self.first_row: dict = {}  # node_id → position of its first row in nodes
        typed: dict[tuple, None] = {}
        names: dict[str, set] = {}
        for i, (nid, t, name) in enumerate(zip(ids, types, node_names)):
            if nid is None:  # never matches a Spark join or filter
                continue
            self.first_row.setdefault(nid, i)
            typed[(nid, t)] = None
            if name is not None:
                names.setdefault(nid, set()).add(name)
        self.ids = list(self.first_row)
        self.pos = {nid: i for i, nid in enumerate(self.ids)}
        self.names = [frozenset(names.get(nid, ())) for nid in self.ids]

        pairs = sorted(typed, key=lambda p: self.pos[p[0]])
        self.row_node = np.array([self.pos[nid] for nid, _ in pairs], dtype=np.int64)
        self.row_ptr = np.zeros(len(self.ids) + 1, dtype=np.int64)
        np.cumsum(np.bincount(self.row_node, minlength=len(self.ids)), out=self.row_ptr[1:])
        # NaN rank = type outside the hierarchy: every comparison is False,
        # as a NULL rank fails the Spark tier's between() predicate
        self.rank = np.array([hierarchy.get(t, np.nan) for _, t in pairs], dtype=np.float64)
        self.hierarchy = hierarchy
        self.type_code = {t: i for i, t in enumerate(dict.fromkeys(t for _, t in pairs))
                          if t is not None}
        self.row_code = np.array([self.type_code.get(t, -1) for _, t in pairs], dtype=np.int64)

        self.emb = None
        if emb is not None:
            mat = (np.stack(emb["embedding"].to_numpy()).astype(np.float64)
                   if len(emb) else np.zeros((0, 0)))
            self.emb = {
                "mat": mat,
                "norm": np.sqrt(np.einsum("ij,ij->i", mat, mat)),
                **{c: _objects(emb, c) for c in ("id", "entity_type", "name")},
            }

        self._adj = None  # (ptr, adj, phantom positions), built by graph()
        self._lock = threading.Lock()

    # ----------------------------------------------------- adjacency

    def graph(self, edges: DataFrame, cap: int):
        """The both-direction CSR adjacency, built from ``edges`` on first
        use; None (for good) when they have more than ``cap`` rows."""
        if self._adj is None:
            with self._lock:
                if self._adj is None:
                    e = collect_capped(edges.select("src", "dst"), cap)
                    self._adj = False if e is None else self._build_adjacency(
                        _objects(e, "src"), _objects(e, "dst"))
        return self._adj or None

    def _build_adjacency(self, src: np.ndarray, dst: np.ndarray):
        # a neighbour must exist in the nodes (the Spark tier joins it to
        # the nodes); a source need not: adjacency from an id that is only
        # an edge endpoint still answers, so such ids get extra
        # "phantom" positions after the node positions, with no typed rows
        n = len(self.ids)
        nodes = pd.Index(self.ids)
        frm = np.concatenate([src, dst])
        to = nodes.get_indexer(np.concatenate([dst, src]))
        keep = (to >= 0) & pd.notna(frm)
        frm, to = frm[keep], to[keep]
        at = nodes.get_indexer(frm)
        missing = at < 0
        phantoms = pd.Index(pd.unique(frm[missing]))
        at[missing] = n + phantoms.get_indexer(frm[missing])
        size = n + len(phantoms)
        ptr = np.zeros(size + 1, dtype=np.int64)
        np.cumsum(np.bincount(at, minlength=size), out=ptr[1:])
        adj = to[np.argsort(at, kind="stable")].astype(np.int32)
        return ptr, adj, {p: n + i for i, p in enumerate(phantoms)}

    # ----------------------------------------------------- tools

    def reach(self, adj, start: str, target: str) -> list[str]:
        """traverse.find_nodes_by_node_type for one start, on the driver:
        rank-pruned BFS, one vectorised frontier expansion per hop."""
        code = self.type_code.get(target)
        s = self.pos.get(start)
        if code is None or s is None:  # absent target type / start
            return []
        ptr, nbr, _ = adj
        is_target = self.row_code == code
        frontier = np.arange(self.row_ptr[s], self.row_ptr[s + 1])
        hits = {s} if is_target[frontier].any() else set()
        t = self.hierarchy.get(target, np.nan)
        start_rank = self.rank[frontier]
        if np.isnan(t) or np.isnan(start_rank).all():  # unranked: no expansion
            return [self.ids[h] for h in hits]
        up = t < np.nanmin(start_rank)
        visited = np.zeros(len(self.ids), dtype=bool)
        visited[s] = True
        for _ in range(MAX_HOPS):
            # each hop moves weakly toward the target rank from the
            # CURRENT typed row, never past it (traverse.py direction rules)
            flat, n = _segments(ptr, self.row_node[frontier])
            cur = np.repeat(self.rank[frontier], n)
            cand, n = _segments(self.row_ptr, nbr[flat])
            cur = np.repeat(cur, n)
            r = self.rank[cand]
            ok = ((t <= r) & (r <= cur)) if up else ((cur <= r) & (r <= t))
            cand = np.unique(cand[ok])
            frontier = cand[~visited[self.row_node[cand]]]
            if not len(frontier):
                break
            visited[self.row_node[frontier]] = True
            hits.update(self.row_node[frontier[is_target[frontier]]].tolist())
        return sorted(self.ids[h] for h in hits)

    def adjacent(self, adj, names: list[str]) -> list[str]:
        ptr, nbr, phantoms = adj
        at = [p for p in (self.pos.get(n, phantoms.get(n)) for n in names) if p is not None]
        flat, _ = _segments(ptr, np.asarray(at, dtype=np.int64))
        out: set[str] = set()
        for v in np.unique(nbr[flat]).tolist():
            out |= self.names[v]
        return sorted(out)

    def vector(self, q: np.ndarray, node_type, top_k: int, threshold: float) -> list[dict]:
        """vectorize.cosine_topk on the driver: filter by type and
        threshold BEFORE ranking, drop zero-norm rows, ties by id."""
        e = self.emb
        if not len(e["id"]) or top_k < 1:
            return []
        q = q.astype(np.float64)
        den = e["norm"] * np.sqrt(q @ q)
        ok = den > 0
        # einsum reduces every row the same way, so equal rows score
        # bit-equal and their tie is broken by id, as on the Spark tier
        sim = np.divide(np.einsum("ij,j->i", e["mat"], q), den,
                        out=np.zeros_like(den), where=ok)
        if node_type is not None:
            ok &= e["entity_type"] == node_type
        cand = np.flatnonzero(ok & (sim >= threshold))
        if len(cand) > top_k:  # keep the top_k scores and all ties with the last
            kth = np.partition(sim[cand], len(cand) - top_k)[len(cand) - top_k]
            cand = cand[sim[cand] >= kth]
        best = sorted(cand.tolist(), key=lambda i: (-sim[i], e["id"][i]))[:top_k]
        return [{"id": e["id"][i], "entity_type": e["entity_type"][i],
                 "name": e["name"][i], "similarity": float(sim[i])} for i in best]


class DatacapsuleAPI:
    """Query layer over a materialized warehouse (nodes/edges parquet
    from pipeline.run_pipeline + optional embeddings)."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        embeddings: DataFrame | None = None,
        hierarchy: dict[str, int] | None = None,
        driver_threshold: int = DRIVER_THRESHOLD,
    ):
        self.spark = spark
        self.nodes = nodes
        self.edges = edges
        self.embeddings = embeddings
        # node_type → rank map for traversal pruning; None = the code-KG
        # taxonomy. Pass the reference's NODE_HIERARCHY to serve an
        # ingested marine-species graph (tests/test_interactions_replay.py)
        self.hierarchy = hierarchy
        self.driver_threshold = driver_threshold
        self._dim = None  # Spark-tier embedding width, probed once
        # Tier choice (module docstring): the index snapshot is taken
        # here, its edge adjacency on the first graph call (_graph).
        table = collect_capped(nodes, driver_threshold)
        emb = None
        if table is not None and embeddings is not None:
            emb = collect_capped(
                embeddings.select("id", "entity_type", "name", "embedding"),
                driver_threshold)
        self._index = None if table is None else _ServingIndex(
            table, hierarchy or NODE_HIERARCHY, emb)
        # query_database's driver tier: snapshots of the registered views
        self._sql = DriverSQL(driver_threshold) if driver_threshold > 0 else None
        if self._index is None:
            nodes.cache()
            edges.cache()

    @classmethod
    def from_warehouse(cls, spark: SparkSession, base_dir: str, **kwargs) -> "DatacapsuleAPI":
        nodes = spark.read.parquet(f"{base_dir}/nodes")
        edges = spark.read.parquet(f"{base_dir}/edges")
        return cls(spark, nodes, edges, **kwargs)

    def _graph(self):
        """The index adjacency, or None when the graph tools run on Spark
        (the first refusal of the edges caches both tables for it)."""
        if self._index is None:
            return None
        adj = self._index.graph(self.edges, self.driver_threshold)
        if adj is None and not self.edges.is_cached:
            self.nodes.cache()
            self.edges.cache()
        return adj

    # ------------------------------------------------------ graph tools

    def find_nodes_by_node_type(self, start_node: str, node_type: str) -> dict:
        """Tool 1: nodes of `node_type` reachable from `start_node`."""
        adj = self._graph()
        if adj is not None:
            names = self._index.reach(adj, start_node, node_type)
        else:
            starts = self.spark.createDataFrame(
                [("q", start_node)], "query_id string, node_id string"
            )
            hits = _bfs(self.nodes, self.edges, starts, node_type, hierarchy=self.hierarchy)
            names = sorted(r["node_id"] for r in hits.collect())
        return {"nodes_count": len(names), "nodes": names}

    def batch_find_nodes_by_node_type(
        self, start_nodes: list[str], node_type: str
    ) -> dict:
        """Tool 2: each start traversed independently (on Spark, all in
        one set-oriented traversal DAG)."""
        adj = self._graph()
        if adj is not None:
            out = {s: self._index.reach(adj, s, node_type) for s in start_nodes}
        else:
            starts = self.spark.createDataFrame(
                [(s, s) for s in start_nodes], "query_id string, node_id string"
            )
            hits = _bfs(self.nodes, self.edges, starts, node_type, hierarchy=self.hierarchy)
            out = {s: [] for s in start_nodes}
            for r in hits.collect():
                out[r["query_id"]].append(r["node_id"])
        return {s: {"nodes_count": len(v), "nodes": sorted(v)} for s, v in out.items()}

    def get_node_attribute(self, node_id: str) -> dict | None:
        """Tool 4: full attr dict of one node, built from a one-row Arrow
        table on both tiers."""
        if self._index is not None:  # the first row, as the Spark tier's limit(1)
            i = self._index.first_row.get(node_id)
            row = self._index.nodes.slice(i or 0, 0 if i is None else 1)
        else:
            row = self.nodes.where(F.col("node_id") == node_id).limit(1).toArrow()
        if not len(row):
            return None
        d = row.to_pylist()[0]
        d["attrs"] = dict(d.get("attrs") or {})
        return d

    def get_adjacent_node_descriptions(self, names: list[str]) -> list[str]:
        """Tool 5: distinct 1-hop neighbor names for the given nodes."""
        adj = self._graph()
        if adj is not None:
            return self._index.adjacent(adj, names)
        df = self.spark.createDataFrame([(n,) for n in names], "node_id string")
        rows = get_adjacent_descriptions(self.nodes, self.edges, df).collect()
        return sorted({d for r in rows for d in r["descriptions"]})

    def nodes_count(self, node_type: str | None = None) -> int:
        """Tool 6."""
        if self._index is not None:
            ix = self._index
            return ix.total if node_type is None else ix.type_counts.get(node_type, 0)
        df = self.nodes
        if node_type is not None:
            df = df.where(F.col("node_type") == node_type)
        return df.count()

    # ----------------------------------------------------- vector tool

    def get_unique_vector_query_results(
        self,
        query_text: str,
        node_type: str | None = None,
        top_k: int = 1,
        better_than_threshold: float = 0.7,
    ) -> list[dict]:
        """Tool 3: embed the query, cosine-score, filter type+threshold
        BEFORE ranking (the reference truncates to k=100 first,
        react_tools.py:313-316 — deliberate fix), return top_k."""
        if self.embeddings is None:
            raise ValueError("no embeddings table attached")
        ix = self._index
        if ix is not None and ix.emb is not None:
            q = hash_embed_text(query_text, dim=ix.emb["mat"].shape[1])
            return ix.vector(q, node_type, top_k, better_than_threshold)
        if self._dim is None:
            first = self.embeddings.select("embedding").first()
            if first is None:  # empty table: nothing can match
                return []
            self._dim = len(first["embedding"])
        q = hash_embed_text(query_text, dim=self._dim)
        rows = cosine_topk(
            self.embeddings, q, k=top_k, entity_type=node_type,
            threshold=better_than_threshold,
        ).collect()
        return [
            {"id": r["id"], "entity_type": r["entity_type"], "name": r["name"],
             "similarity": float(r["sim"])}
            for r in rows
        ]

    # -------------------------------------------------------- SQL tool

    def query_database(self, sql: str) -> dict:
        """S5/X4 contract: execute (possibly LLM-generated) SQL against
        the registered tables; same fence-strip (dspy_query_db.py:
        117-120) and result envelope (:141-158) as the reference.

        The SparkSession is shared by every client, so only a read-only
        query (SELECT / WITH / VALUES / TABLE, per the session's own
        parser) runs: a SET, CACHE TABLE, DROP VIEW, CREATE or INSERT
        comes back as an error envelope without executing. At most
        MAX_SQL_ROWS rows are collected; a cut result carries
        "truncated": True. A query still running at SQL_DEADLINE_S is
        stopped and comes back as an error envelope.

        Spark analyzes every statement; the driver tier (``self._sql``)
        answers it from DuckDB when it can, and Spark otherwise."""
        cleaned = re.sub(r"```sql\s*", "", sql)
        cleaned = re.sub(r"```\s*$", "", cleaned.strip())
        try:
            stmt = cleaned.rstrip().rstrip(";")
            parse = self.spark._jsparkSession.sessionState().sqlParser().parseQuery
            try:
                capture_sql_exception(parse)(stmt)
            except ParseException as e:
                raise ValueError(f"only a single read-only query is allowed: {e}") from e
            df = self.spark.sql(stmt)
            results = self._driver_rows(df)
            if results is None:
                results = self._spark_rows(df)
            env = {
                "success": True,
                "generated_sql": cleaned,
                "results": results[:MAX_SQL_ROWS],
                "row_count": min(len(results), MAX_SQL_ROWS),
            }
            if len(results) > MAX_SQL_ROWS:
                env["truncated"] = True
            return env
        except Exception as e:  # noqa: BLE001 — envelope contract
            return {"success": False, "generated_sql": cleaned, "error": str(e)}

    def _driver_rows(self, df: DataFrame) -> list[dict] | None:
        """Up to MAX_SQL_ROWS + 1 result rows from DuckDB, or None when
        the Spark tier must answer (any DuckDB error but the deadline)."""
        plan = self._sql.prepare(df) if self._sql is not None else None
        if plan is None:
            return None
        sql, names = plan
        cur = self._sql.cursor()
        try:
            with _deadline(cur.interrupt):
                rows = cur.execute(sql).fetchmany(MAX_SQL_ROWS + 1)
        except TimeoutError:
            raise
        except Exception:  # noqa: BLE001 — Spark answers instead
            return None
        return [dict(zip(names, r)) for r in rows]

    def _spark_rows(self, df: DataFrame) -> list[dict]:
        """Up to MAX_SQL_ROWS + 1 result rows from Spark, under a job tag
        of this call's own that the deadline cancels."""
        sc = self.spark.sparkContext
        tag = f"query_database-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            with _deadline(lambda: sc.cancelJobsWithTag(tag)):
                rows = df.limit(MAX_SQL_ROWS + 1).collect()
        finally:
            sc.removeJobTag(tag)
        return [r.asDict(recursive=True) for r in rows]

    # ------------------------------------------------- ops persistence

    @staticmethod
    def format_results(envelope: dict) -> str:
        """A8: max-width column-aligned rendering of a query_database
        envelope — same layout as the reference (dspy_query_db.py:
        170-204): per-column width = max(len(header), len(any value)),
        values ljust-padded, None → 'NULL', header + dashed separator."""
        if not envelope.get("success", False):
            return (
                f"query failed: {envelope.get('error')}\n"
                f"SQL: {envelope.get('generated_sql')}"
            )
        rows = envelope.get("results", [])
        out = [f"SQL: {envelope.get('generated_sql')}",
               f"{envelope.get('row_count', len(rows))} rows:"]
        if rows:
            cols = list(rows[0].keys())
            widths = {c: len(c) for c in cols}
            for row in rows:
                for c in cols:
                    v = "NULL" if row[c] is None else str(row[c])
                    widths[c] = max(widths[c], len(v))
            out.append(" | ".join(c.ljust(widths[c]) for c in cols))
            out.append("-+-".join("-" * widths[c] for c in cols))
            for row in rows:
                out.append(
                    " | ".join(
                        ("NULL" if row[c] is None else str(row[c])).ljust(widths[c])
                        for c in cols
                    )
                )
        return "\n".join(out)

    def save_interaction(self, record: dict, save_dir: str) -> bool:
        """S9: saved-data JSON sink. The reference appends to ONE
        saved_data.json array (read-all + rewrite-all per save,
        app.py:253-275 — O(store) a write); here each record is its own
        JSON file keyed by record id (duplicate id → False, mirroring
        save_to_db's 400, app.py:285-291), so saves are O(record),
        atomic, and the directory loads straight into a DataFrame.

        Safe under concurrent savers: the record is written to a temp
        file of its own, then published with os.link, which fails if the
        target exists. A lost race on an explicit id returns False; an
        auto id moves on to the next free rec-N."""
        os.makedirs(save_dir, exist_ok=True)
        explicit = record.get("id") is not None  # 0 is a valid id
        fd, tmp = tempfile.mkstemp(dir=save_dir, prefix=".save-", suffix=".tmp")
        os.close(fd)
        try:
            while True:
                if explicit:
                    rid = str(record["id"])
                else:
                    # next free index: max existing rec-N + 1 (len() would
                    # collide after deletes and count leftover .tmp files)
                    taken = [
                        int(f[4:-5])
                        for f in os.listdir(save_dir)
                        if f.startswith("rec-") and f.endswith(".json")
                        and f[4:-5].isdigit()
                    ]
                    rid = f"rec-{max(taken, default=-1) + 1}"
                with open(tmp, "w", encoding="utf-8") as f:
                    json.dump({**record, "id": rid}, f, ensure_ascii=False)
                try:
                    os.link(tmp, os.path.join(save_dir, f"{rid}.json"))
                    return True
                except FileExistsError:
                    if explicit:
                        return False
        finally:
            os.unlink(tmp)

    def load_interactions(self, save_dir: str) -> DataFrame:
        """Read every saved interaction back as a DataFrame (the ops
        table the reference keeps in sqlite — S7's JSON twin).
        *.json only: a crashed save's leftover .tmp is never loaded."""
        return self.spark.read.option("multiLine", "true").json(
            f"{save_dir}/*.json"
        )

    def register_tables(self, tables: dict[str, DataFrame]) -> None:
        """Expose DataFrames to query_database (SQL views), including
        the 4-table relational layer from materialize.build_relational.
        Re-registering a name drops the driver tier's old snapshot."""
        for name, df in tables.items():
            if self._sql is not None:
                df = self._sql.register(name, df)
            df.createOrReplaceTempView(name)

    def describe_schema(self) -> dict[str, list[dict]]:
        """S8: enumerate registered tables + columns — the schema
        payload the reference feeds its NL→SQL prompt
        (dspy_query_db.py:70-95, sqlite_master + PRAGMA table_info)."""
        out: dict[str, list[dict]] = {}
        for t in self.spark.catalog.listTables():
            # temp views only — register_tables() is the NL2SQL surface;
            # permanent catalog tables are not part of the prompt payload
            if t.tableType != "TEMPORARY":
                continue
            out[t.name] = [
                {"name": c.name, "type": c.dataType}
                for c in self.spark.catalog.listColumns(t.name)
            ]
        return out
