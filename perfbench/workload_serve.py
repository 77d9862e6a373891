"""``serve`` workload: a closed loop of agent sessions over a warehouse.

The warehouse is ``pipeline.run_pipeline`` over a fixed balanced corpus,
built once per checkout and version of the code (the cache is keyed by
a hash of the sources) in a JVM of its own (its cost is the ``build``
workload's business); the seed drives the session stream. Set-up opens
the warehouse through the pipeline's resume path, embeds every node
descriptor, opens ``api.DatacapsuleAPI`` on it and runs a first, cold
session. Two client threads then run seeded agent sessions back to
back; a session is one vector search, one or two point lookups, one SQL
query over the relational views, one traversal and a
``save_interaction``. Recovery is three serving restarts, each until
the first lookup session is answered. Every answer is checked
afterwards against truth computed directly from the warehouse tables.

Traced runs also run the fresh-KG health report (graph_summary,
pagerank, hyperball + effective_diameter, strongly connected
components) over the warehouse edges, so ``operators/graph_stats`` is
measured per layer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

import datacapsule_spark.api as api_mod
from datacapsule_spark.api import DatacapsuleAPI
from datacapsule_spark.operators import graph_stats as gs
from datacapsule_spark.pipeline import run_pipeline
from datacapsule_spark.traverse import NODE_HIERARCHY
from datacapsule_spark.vectorize import embed_descriptors, node_descriptors

import common
from workload_build import marker_times

FILES = 1000
WAREHOUSE_SEED = 0
WAREHOUSE = os.path.join(common.STATE, "warehouse",
                         f"n{FILES}_s{WAREHOUSE_SEED}_{common.code_version()}")
TRUTH = "truth.json"
CLIENTS = 2
MIN_ROUNDS = 1
RESTARTS = 3  # serving restarts per run; recover_s is their median
REL_TABLES = ("entities", "entity_mentions", "numerical_facts", "descriptions")
TRAVERSALS = ("batch", "find", "adjacent")
LOOKUPS = ("attr", "count", "sql")
# Session template per traversal kind: (point lookups, SQL query kind).
# Fixed, so every seed runs the same mix of tools; the seed picks only
# the arguments. A round of the three holds 2 attr, 2 count, 3 SQL calls.
MIX = {"find": (("attr",), "lang"),
       "adjacent": (("count", "attr"), "repo"),
       "batch": (("count",), "repo")}
SQL_LANG = "SELECT COUNT(*) AS n FROM entities WHERE lang = '{}'"
SQL_REPO = ("```sql\nSELECT kind, COUNT(*) AS n FROM entity_mentions "
            "WHERE repo = '{}' GROUP BY kind ORDER BY kind\n```")


def truth_tables(out: dict) -> dict:
    """Oracle data, straight from the warehouse tables with plain
    DataFrame collects and counts (no serving code involved)."""
    repo_kind: dict[str, list] = defaultdict(list)
    for r in out["entity_mentions"].groupBy("repo", "kind").count().collect():
        repo_kind[r["repo"]].append({"kind": r["kind"], "n": r["count"]})
    return {
        "nodes": [{**r.asDict(), "attrs": dict(r["attrs"] or {})}
                  for r in out["nodes"].collect()],
        "edges": [[r["src"], r["dst"]] for r in out["edges"].select("src", "dst").collect()],
        "descriptors": {r["id"]: r["text"] for r in
                        node_descriptors(out["nodes"]).select("id", "text").collect()},
        "lang_counts": {r["lang"]: r["count"] for r in
                        out["entities"].groupBy("lang").count().collect()},
        "repo_kinds": {k: sorted(v, key=lambda x: x["kind"]) for k, v in repo_kind.items()},
    }


class Truth:
    """Expected tool answers, computed on the driver from truth_tables."""

    def __init__(self, tables: dict):
        self.nodes = {d["node_id"]: d for d in tables["nodes"]}
        self.nbrs: dict[str, set] = defaultdict(set)
        self.directed = {tuple(e) for e in tables["edges"]}
        for u, v in self.directed:
            self.nbrs[u].add(v)
            self.nbrs[v].add(u)
        self.type_counts = Counter(d["node_type"] for d in self.nodes.values())
        self.by_type: dict[str, list] = defaultdict(list)
        for nid, d in sorted(self.nodes.items()):
            self.by_type[d["node_type"]].append(nid)
        self.descriptors = tables["descriptors"]
        self.described = sorted(self.descriptors)
        self.lang_counts = tables["lang_counts"]
        self.repo_kinds = tables["repo_kinds"]

    def rank(self, nid):
        return NODE_HIERARCHY.get(self.nodes[nid]["node_type"]) if nid in self.nodes else None

    def reach(self, start: str, target: str, max_hops: int = 7) -> list[str]:
        """Rank-monotone BFS with the traverse.find_nodes_by_node_type rules."""
        t = NODE_HIERARCHY.get(target)
        if start not in self.nodes or t is None or target not in self.type_counts:
            return []
        r0 = self.rank(start)
        frontier, visited = {start}, {start}
        hits = {start} if self.nodes[start]["node_type"] == target else set()
        for _ in range(max_hops):
            nxt = set()
            for u in frontier:
                cur = self.rank(u)
                for v in self.nbrs.get(u, ()):
                    rv = self.rank(v)
                    if rv is None:
                        continue
                    if (t <= rv <= cur) if t < r0 else (cur <= rv <= t):
                        nxt.add(v)
            frontier = nxt - visited
            if not frontier:
                break
            visited |= frontier
            hits |= {v for v in frontier if self.nodes[v]["node_type"] == target}
        return sorted(hits)

    def adjacent(self, names: list[str]) -> list[str]:
        return sorted({self.nodes[v]["name"] for n in names
                       for v in self.nbrs.get(n, ()) if v in self.nodes})

    def expect(self, tool: str, args: tuple):
        if tool == "vector":
            return args[1]
        if tool == "attr":
            return self.nodes.get(args[0])
        if tool == "count":
            return self.type_counts.get(args[0], 0)
        if tool == "sql":
            kind, value = args
            if kind == "lang":
                return [{"n": self.lang_counts.get(value, 0)}]
            return self.repo_kinds.get(value, [])
        if tool == "find":
            nodes = self.reach(*args)
            return {"nodes_count": len(nodes), "nodes": nodes}
        if tool == "batch":
            starts, target = args
            return {s: {"nodes_count": len(h), "nodes": h}
                    for s in starts for h in [self.reach(s, target)]}
        if tool == "adjacent":
            return self.adjacent(args[0])
        return True


def _build_warehouse(path: str, out: str) -> None:
    spark = common.start_session(trace=False)
    try:
        tables = truth_tables(run_pipeline(spark, spark.read.parquet(path), out))
        with open(os.path.join(out, TRUTH), "w") as f:
            json.dump(tables, f)
    finally:
        common.stop_session(spark)


def ensure_warehouse() -> None:
    """Build the warehouse if this checkout has none yet. Every workload
    calls this before it starts, so the first run in a checkout, whichever
    workload it is, pays for the build."""
    if os.path.exists(os.path.join(WAREHOUSE, TRUTH)):
        return
    tmp = WAREHOUSE + ".tmp"
    common.fresh_dir(tmp)
    code = subprocess.call([sys.executable, os.path.abspath(__file__),
                            common.corpus(WAREHOUSE_SEED, FILES), tmp], stdout=sys.stderr)
    if code != 0:
        raise RuntimeError(f"warehouse build failed with exit code {code}")
    os.rename(tmp, WAREHOUSE)


class Serve:
    files = FILES

    @staticmethod
    def inputs(seed: int) -> None:
        """Nothing per seed: the seed drives only the session stream."""

    def __init__(self, spark, seed: int, tr, res):
        self.spark, self.seed, self.tr, self.res = spark, seed, tr, res
        self.path = common.corpus(WAREHOUSE_SEED, FILES)
        self.lock = threading.Lock()
        self.sessions: list[float] = []
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.answers: list[tuple] = []
        self.first_s = None
        self.restart_s = None
        self.restarts: list[float] = []

    # ---------------------------------------------------------- set-up

    def setup(self) -> None:
        self.work_dir = common.fresh_dir("work", "serve")
        self.save_dir = os.path.join(self.work_dir, "interactions")
        self.emb_path = os.path.join(self.work_dir, "embeddings")
        self._open("opening", embed=True)

    def _open(self, what: str, embed: bool = False) -> None:
        """The warehouse through run_pipeline's resume path (a stage that
        runs again here is an unexpected resume, a failure), then the API
        on it; ``embed`` first writes the descriptor embeddings."""
        t_open = time.time()
        self.out = run_pipeline(self.spark, self.spark.read.parquet(self.path), WAREHOUSE)
        rerun = [s for s, t in marker_times(WAREHOUSE).items() if t >= t_open]
        self.res.check(f"{what} the warehouse resumed every stage", not rerun, rerun)
        if embed:
            with self.tr.span("vectorize.embed_descriptors"):
                embed_descriptors(node_descriptors(self.out["nodes"])).write.mode(
                    "overwrite").parquet(self.emb_path)
        self.api = DatacapsuleAPI(self.spark, self.out["nodes"], self.out["edges"],
                                  self.spark.read.parquet(self.emb_path))
        self.api.register_tables({t: self.out[t] for t in REL_TABLES})

    def prepare(self) -> None:
        """Oracle tables; not part of set-up time."""
        with open(os.path.join(WAREHOUSE, TRUTH)) as f:
            self.truth = Truth(json.load(f))

    def warmup(self) -> None:
        """The first, cold session on the API in this fresh JVM: a find
        session (the stream's median kind). Its JIT and codegen warm the
        plans the measured sessions reuse, and it fills the caches."""
        calls = self._session(common.rng_for(self.seed, "first"), "find")
        self.first_s = self.res.attempt("first session", self._run_session, self.api,
                                        calls, "first", False) or None

    # -------------------------------------------------------- sessions

    def _session(self, rng, traversal: str) -> list[tuple]:
        """One agent session as (tool, args) calls; needs self.truth."""
        t = self.truth
        files, symbols = t.by_type["file"], t.by_type["symbol"]
        lookups, sql = MIX[traversal]
        node = rng.choice(t.described)
        calls = [("vector", (t.descriptors[node], node))]
        for tool in lookups:
            if tool == "attr":
                calls.append(("attr", (rng.choice(files + symbols),)))
            else:
                calls.append(("count", (rng.choice(sorted(t.type_counts)),)))
        if sql == "lang":
            calls.append(("sql", ("lang", rng.choice(["python", "javascript", "java"]))))
        else:
            calls.append(("sql", ("repo", rng.choice(sorted(t.repo_kinds)))))
        if traversal == "find":
            calls.append(("find", (rng.choice(files), "symbol")))
        elif traversal == "adjacent":
            calls.append(("adjacent", (rng.sample(files + symbols, 2),)))
        else:
            calls.append(("batch", (rng.sample(files, 3), "repo")))
        calls.append(("save", ()))
        return calls

    def _call(self, api, tool: str, args: tuple, sid: str, record: bool = True):
        """One tool call; every answer is kept for verify(), the call's
        wall only when ``record`` (measured sessions)."""
        t0 = time.perf_counter()
        with self.tr.span(f"api.{tool}", session=sid):
            if tool == "vector":
                got = api.get_unique_vector_query_results(args[0], top_k=1)
                got = got[0]["id"] if got and abs(got[0]["similarity"] - 1) < 1e-5 else got
            elif tool == "attr":
                got = api.get_node_attribute(args[0])
            elif tool == "count":
                got = api.nodes_count(args[0])
            elif tool == "sql":
                sql = (SQL_LANG if args[0] == "lang" else SQL_REPO).format(args[1])
                env = api.query_database(sql)
                got = env["results"] if env["success"] else env
            elif tool == "find":
                got = api.find_nodes_by_node_type(*args)
            elif tool == "batch":
                got = api.batch_find_nodes_by_node_type(*args)
            elif tool == "adjacent":
                got = api.get_adjacent_node_descriptions(args[0])
            else:
                got = api.save_interaction({"id": sid, "seed": self.seed}, self.save_dir)
        dt = time.perf_counter() - t0
        with self.lock:
            self.answers.append((tool, args, got))
            if record:
                self.calls[tool].append(dt)
        return got

    def _run_session(self, api, calls, sid: str, record: bool = True) -> float:
        t0 = time.perf_counter()
        with self.tr.span("bench.session", session=sid):
            for tool, args in calls:
                self._call(api, tool, args, sid, record)
        return time.perf_counter() - t0

    def _next(self, t_end: float):
        """Next (sid, calls) of the seeded session stream, or None. The
        stream is whole rounds of one session per traversal kind in
        TRAVERSALS order, at least MIN_ROUNDS; the round under way when
        time is up is finished. The order is fixed so that which sessions
        the two clients overlap does not depend on the seed."""
        with self.lock:
            k = self._handed
            if (k % len(TRAVERSALS) == 0 and k >= MIN_ROUNDS * len(TRAVERSALS)
                    and time.perf_counter() >= t_end):
                return None
            self._handed += 1
            return f"s{k}", self._session(self._rng, TRAVERSALS[k % len(TRAVERSALS)])

    def _client(self, t_end: float) -> None:
        """Closed loop: a client sends its next session when the last
        one has been answered."""
        while (nxt := self._next(t_end)) is not None:
            sid, calls = nxt
            took = self.res.attempt(f"session {sid}", self._run_session, self.api, calls, sid)
            if took is not False:
                with self.lock:
                    self.sessions.append(took)

    def measure(self, seconds: float) -> None:
        self._rng = common.rng_for(self.seed, "sessions")
        self._handed = 0
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._client, args=(t0 + seconds,))
                   for _ in range(min(CLIENTS, common.cores()))]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.window_s = time.perf_counter() - t0

    def recover(self) -> float | None:
        """RESTARTS serving restarts, each: drop the caches, re-open the
        warehouse through the pipeline's resume path, open a new API on it
        and answer one lookup session (vector search, count, attribute,
        SQL, save; no traversal). Median wall until it is answered."""
        for i in range(1, RESTARTS + 1):
            self.api.nodes.unpersist()
            self.api.edges.unpersist()
            calls = [c for c in self._session(common.rng_for(self.seed, "recover", i),
                                              "adjacent") if c[0] not in TRAVERSALS]
            t0 = time.perf_counter()
            with self.tr.span("bench.recover"):
                self._open(f"re-opening {i}")
                ok = self.res.attempt(f"recover session {i}", self._run_session, self.api,
                                      calls, f"recover{i}", False)
            if ok is not False:
                self.restarts.append(time.perf_counter() - t0)
        if len(self.restarts) == RESTARTS:
            self.restart_s = common.median(self.restarts)
        return self.restart_s

    # ------------------------------------------------------ correctness

    def verify(self) -> None:
        bad = Counter()
        n = Counter()
        for tool, args, got in self.answers:
            n[tool] += 1
            if got != self.truth.expect(tool, args):
                bad[tool] += 1
        self.wrong = sum(bad.values())
        for tool in sorted(n):
            self.res.check(f"{n[tool]} {tool} answers match the warehouse tables",
                           bad[tool] == 0, f"{bad[tool]} wrong")
        saved = len([f for f in os.listdir(self.save_dir) if f.endswith(".json")])
        self.res.check("every session saved one interaction", saved >= n["save"], saved)

    # ------------------------------------------------- health report

    def health_report(self) -> None:
        """README's fresh-KG health report over the warehouse edges."""
        e = self.out["edges"].select("src", "dst")
        with self.tr.span("graph_stats.graph_summary"):
            summary = gs.graph_summary(e, src="src", dst="dst").first()
        with self.tr.span("graph_stats.pagerank"):
            top = gs.pagerank(e, max_iter=10).orderBy(F.desc("rank")).limit(20).collect()
        with self.tr.span("graph_stats.hyperball"):
            diameter = gs.effective_diameter(gs.hyperball(e, src="src", dst="dst"))
        with self.tr.span("graph_stats.strongly_connected_components"):
            scc = gs.strongly_connected_components(e).collect()
        und = {(min(u, v), max(u, v)) for u, v in self.truth.directed if u != v}
        ends = {x for pair in und for x in pair}
        self.res.check("graph_summary counts equal the warehouse counts",
                       (summary["n_nodes"], summary["n_edges"]) == (len(ends), len(und)),
                       (summary["n_nodes"], summary["n_edges"], len(ends), len(und)))
        labelled = [r["node"] for r in scc]
        endpoints = {x for pair in self.truth.directed for x in pair}
        self.res.check("SCC labels partition the nodes",
                       len(labelled) == len(set(labelled)) and set(labelled) == endpoints,
                       (len(labelled), len(set(labelled)), len(endpoints)))
        self.res.check("pagerank and hyperball answered", bool(top) and diameter >= 0)

    # ---------------------------------------------------------- metrics

    def metrics(self, setup_s: float, recover_s: float | None) -> dict:
        n_calls = sum(len(v) for v in self.calls.values())
        return {
            "unit_s": (common.mean(self.sessions), "s", len(self.sessions)),
            "work_per_s": (n_calls / self.window_s if self.window_s else 0.0, "1/s", n_calls),
            "recover_s": (recover_s or 0.0, "s", len(self.restarts)),
        }

    def detail(self) -> dict:
        return {"session_s": common.describe(self.sessions),
                "first_session_s": self.first_s, "restarts_s": self.restarts,
                **{f"{tool}_ms": common.describe([x * 1000 for x in xs])
                   for tool, xs in sorted(self.calls.items())}}

    def layer_metrics(self, cores: int) -> dict:
        tr = self.tr
        kids = defaultdict(list)
        for r in tr.spans:
            kids[r["parent"]].append(r)
        selfs = tr.self_times()

        def ms(spans):
            return common.median([(r["end"] - r["start"]) * 1000 for r in spans])

        api_spans = [r for r in tr.spans if r["name"].startswith("api.")
                     and not r["attrs"].get("session", "").startswith(("first", "recover"))]

        def in_layer(tool, layer, key=None):
            out = []
            for r in (s for s in api_spans if s["name"] == f"api.{tool}"):
                sub = [k for k in kids[r["id"]] if k["name"].startswith(layer + ".")]
                out.append(sum(k["counters"]["jobs"] for k in sub) if key == "jobs"
                           else sum(k["end"] - k["start"] for k in sub) * 1000)
            return common.median(out)

        lookups = [(r["end"] - r["start"]) * 1000 for r in api_spans
                   if r["name"][4:] in LOOKUPS]
        out = {f"api.{t}_ms": (ms([r for r in api_spans if r["name"] == f"api.{t}"]), "ms")
               for t in ("vector", "attr", "count", "sql", "find", "batch", "adjacent", "save")}
        out.update({
            "api.lookup_ms_p50": (common.quantile(lookups, 0.5), "ms"),
            "api.lookup_ms_p90": (common.quantile(lookups, 0.9), "ms"),
            "api.self_ms": (common.median([selfs[r["id"]] * 1000 for r in api_spans]), "ms"),
            "api.failed": (self.wrong, "count"),
            "traverse.bfs_ms": (in_layer("find", "traverse"), "ms"),
            "traverse.bfs_jobs": (in_layer("find", "traverse", "jobs"), "count"),
            "traverse.adjacent_ms": (in_layer("adjacent", "traverse"), "ms"),
            "vectorize.topk_ms": (in_layer("vector", "vectorize"), "ms"),
            "vectorize.embed_s": (ms(tr.by_name("vectorize.embed_descriptors")) / 1000, "s"),
        })
        for op, name in (("summary", "graph_summary"), ("pagerank", "pagerank"),
                         ("hyperball", "hyperball"),
                         ("scc", "strongly_connected_components")):
            spans = tr.by_name(f"graph_stats.{name}")
            out[f"graph_stats.{op}_s"] = (ms(spans) / 1000, "s")
            out[f"graph_stats.{op}_jobs"] = (sum(r["counters"]["jobs"] for r in spans), "count")
        return out

    def install_layer_spans(self):
        """Spans around the layer functions the facade calls; returns an
        undo callable."""
        saved = {k: getattr(api_mod, k) for k in
                 ("_bfs", "get_adjacent_descriptions", "cosine_topk", "hash_embed_text")}
        api_mod._bfs = self.tr.wrap(saved["_bfs"], "traverse.find_nodes_by_node_type",
                                    charge_collect=True)
        api_mod.get_adjacent_descriptions = self.tr.wrap(
            saved["get_adjacent_descriptions"], "traverse.get_adjacent_descriptions",
            charge_collect=True)
        api_mod.cosine_topk = self.tr.wrap(saved["cosine_topk"], "vectorize.cosine_topk",
                                           charge_collect=True)
        api_mod.hash_embed_text = self.tr.wrap(saved["hash_embed_text"],
                                               "vectorize.hash_embed_text")

        def undo():
            for k, v in saved.items():
                setattr(api_mod, k, v)
        return undo


if __name__ == "__main__":
    # python3 workload_serve.py <corpus dir> <warehouse dir>: the
    # warehouse build that ensure_warehouse runs in a process of its own.
    _build_warehouse(sys.argv[1], sys.argv[2])
