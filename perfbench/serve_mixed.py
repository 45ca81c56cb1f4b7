"""serve_mixed: the engine's HTTP server under 3 closed-loop clients.

``serving.serve_background`` serves the generated sf0.1 tables. Three client
threads of this process each send their next request once the previous reply
has arrived (a closed loop: analysts who wait for their answer). Every client
draws its requests from a deck of ten, shuffled by the seed: six POST
``/cypher`` from the parameterised templates below, two ``/expand`` (hops 1-3),
one ``/ubo`` and one ``/explain``. Parameter values are drawn per request.
"""

from __future__ import annotations

import json
import random
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from harness import Oracle, quantile, verdict

CLIENTS = 3
DECK_S = 20  # about one round of decks on 2 cores
N_CUSTOMERS = 15_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_NATION = "customer JOIN nation ON c_nationkey = n_nationkey"

# name -> (Cypher text, parameter draw, DuckDB SQL giving the same rows)
TEMPLATES = {
    "one_hop": (
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) WHERE c.custkey = $ck "
        "RETURN c.name AS cust, n.name AS nation",
        lambda r: {"ck": r.randrange(N_CUSTOMERS)},
        lambda p: f"SELECT c_name AS cust, n_name AS nation FROM {_NATION} "
                  f"WHERE c_custkey = {p['ck']}",
    ),
    "two_hop": (
        "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n:Nation)-[:NATION_OF]->(r:Region) "
        "WHERE r.name = $rn RETURN s AS supplier, n.name AS nation",
        lambda r: {"rn": r.choice(REGIONS)},
        lambda p: "SELECT 's:' || s_suppkey AS supplier, n_name AS nation FROM supplier "
                  "JOIN nation ON s_nationkey = n_nationkey "
                  "JOIN region ON n_regionkey = r_regionkey "
                  f"WHERE r_name = '{p['rn']}'",
    ),
    "three_hop": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order), "
        "(c)-[:CUSTOMER_OF]->(n:Nation)-[:NATION_OF]->(r:Region) "
        "WHERE c.custkey = $ck RETURN o.orderkey AS k, n.name AS nation, r.name AS region",
        lambda r: {"ck": r.randrange(N_CUSTOMERS)},
        lambda p: f"SELECT o_orderkey AS k, n_name AS nation, r_name AS region "
                  f"FROM orders JOIN {_NATION} ON o_custkey = c_custkey "
                  f"JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = {p['ck']}",
    ),
    "var_length": (
        "MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b) WHERE a.id = $cid RETURN b, hops",
        lambda r: {"cid": f"c:{r.randrange(N_CUSTOMERS)}"},
        lambda p: f"SELECT 'n:' || c_nationkey AS b, 1 AS hops FROM customer "
                  f"WHERE c_custkey = {p['cid'][2:]} UNION ALL "
                  f"SELECT 'r:' || n_regionkey, 2 FROM {_NATION} "
                  f"WHERE c_custkey = {p['cid'][2:]}",
    ),
    "aggregate": (
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) WHERE c.mktsegment = $seg "
        "RETURN n.name AS nation, count(*) AS k ORDER BY nation",
        lambda r: {"seg": r.choice(SEGMENTS)},
        lambda p: f"SELECT n_name AS nation, count(*) AS k FROM {_NATION} "
                  f"WHERE c_mktsegment = '{p['seg']}' GROUP BY n_name",
    ),
    "optional": (
        "MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x) WHERE c.id = $cid "
        "OPTIONAL MATCH (x)-[:NATION_OF]->(r) RETURN DISTINCT x AS entity, r AS region",
        lambda r: {"cid": f"c:{r.randrange(N_CUSTOMERS)}"},
        lambda p: f"SELECT 'n:' || c_nationkey AS entity, 'r:' || n_regionkey AS region "
                  f"FROM {_NATION} WHERE c_custkey = {p['cid'][2:]} UNION ALL "
                  f"SELECT 'r:' || n_regionkey, NULL FROM {_NATION} "
                  f"WHERE c_custkey = {p['cid'][2:]}",
    ),
    "exists": (
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) WITH n, count(*) AS k "
        "WHERE k >= $k AND EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } "
        "RETURN n.name AS nm, k ORDER BY nm",
        # ~600 customers per nation (sd ~24): k below 600 leaves the result
        # non-empty unless all 25 nations fall under 600 (p ~ 3e-8)
        lambda r: {"k": r.randrange(500, 600)},
        lambda p: f"SELECT n_name AS nm, count(*) AS k FROM {_NATION} "
                  "WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey) "
                  f"GROUP BY n_name HAVING count(*) >= {p['k']}",
    ),
    "fact_tier": (
        "MATCH (c:Customer {custkey: $ck})-[:PLACED]->(o:Order) "
        "RETURN o.orderkey AS k, o.totalprice AS price ORDER BY k",
        lambda r: {"ck": r.randrange(N_CUSTOMERS)},
        lambda p: f"SELECT o_orderkey AS k, o_totalprice AS price FROM orders "
                  f"WHERE o_custkey = {p['ck']}",
    ),
}

_HIERARCHY_SQL = """
    cp AS (SELECT c_custkey, c_nationkey, greatest(c_acctbal, 0.0) AS bal FROM customer),
    tot AS (SELECT c_nationkey, sum(bal) AS tot FROM cp GROUP BY c_nationkey),
    e AS (
        SELECT 'c:' || c_custkey AS src, 'n:' || c_nationkey AS dst,
               CASE WHEN tot > 0 THEN bal / tot ELSE 0.0 END AS w
        FROM cp JOIN tot USING (c_nationkey)
        UNION ALL SELECT 's:' || s_suppkey, 'n:' || s_nationkey, 1.0 FROM supplier
        UNION ALL SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 1.0 FROM nation
    )"""


def expand_sql(entity: str, hops: int) -> str:
    return f"""
    WITH RECURSIVE {_HIERARCHY_SQL},
    u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    bfs(node, d) AS (
        SELECT '{entity}', 0
        UNION SELECT u.dst, bfs.d + 1 FROM bfs JOIN u ON u.src = bfs.node
        WHERE bfs.d < {hops}
    )
    SELECT node, min(d) AS hop FROM bfs GROUP BY node"""


def ubo_sql(threshold: float, max_rows: int = 1000) -> str:
    # the hierarchy is two levels deep (customer -> nation -> region), so
    # paths of length 1 and 2 are every path the engine's closure can walk
    return f"""
    WITH {_HIERARCHY_SQL},
    p AS (
        SELECT src AS owner, dst AS entity, w AS frac FROM e
        UNION ALL
        SELECT a.src, b.dst, a.w * b.w FROM e a JOIN e b ON a.dst = b.src
    ),
    agg AS (SELECT owner, entity, sum(frac) AS eff FROM p GROUP BY owner, entity)
    SELECT owner, entity, round(eff, 6) AS effective_ownership FROM agg
    WHERE eff >= {threshold!r} AND owner LIKE 'c:%'
    ORDER BY effective_ownership DESC, owner, entity LIMIT {max_rows}"""


def _nulls(pdf: pd.DataFrame) -> pd.DataFrame:
    """One spelling for missing values on both sides of a comparison."""
    return pdf.astype(object).where(pdf.notna(), None)


class Workload:
    def __init__(self, spark, sf_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.server = None
        self.base = ""
        self.attempted = 0
        self.failed: list[str] = []
        self._lock = threading.Lock()

    def start(self) -> None:
        from mimranalytics_core_spark.serving import serve_background

        self.server, port = serve_background(self.spark, self.sf_dir)
        self.base = f"http://127.0.0.1:{port}"

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    # -- requests -----------------------------------------------------------
    def deck(self, i: int) -> list[tuple[str, object]]:
        """Client ``i``'s ten requests: six Cypher templates, two expands,
        one UBO report and one explain. Over the three clients every template
        and every hop count 1-3 appears a fixed number of times, so the mix
        is the same for every seed; the seed only orders and parameterises it.
        """
        names = sorted(TEMPLATES)
        cyphers = [("cypher", names[(6 * i + j) % len(names)]) for j in range(6)]
        expands = [("expand", 1 + (2 * i + j) % 3) for j in range(2)]
        return cyphers + expands + [("ubo", None), ("explain", None)]

    def draw(self, rng: random.Random, kind: str, arg=None):
        """One request of ``kind`` with parameters drawn from ``rng``:
        ``(label, request, DuckDB SQL of its rows or None)``."""
        if kind == "cypher":
            q, draw, sql = TEMPLATES[arg]
            params = draw(rng)
            return f"cypher.{arg}", urllib.request.Request(
                f"{self.base}/cypher", method="POST",
                data=json.dumps({"q": q, "params": params}).encode(),
                headers={"Content-Type": "application/json"}), sql(params)
        if kind == "expand":
            entity = f"c:{rng.randrange(N_CUSTOMERS)}"
            query, sql = {"entities": entity, "hops": arg}, expand_sql(entity, arg)
        elif kind == "ubo":
            threshold = round(rng.uniform(0.002, 0.003), 4)
            query, sql = {"threshold": threshold}, ubo_sql(threshold)
        else:
            q, draw, _ = TEMPLATES[rng.choice(sorted(TEMPLATES))]
            query, sql = {"q": q, "params": json.dumps(draw(rng))}, None
        url = f"{self.base}/{kind}?{urllib.parse.urlencode(query)}"
        return kind, urllib.request.Request(url), sql

    @staticmethod
    def send(req: urllib.request.Request, req_id: str = "") -> dict:
        req.add_header("X-Request-Id", req_id)
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    def _fail(self, what: str) -> None:
        with self._lock:
            self.failed.append(what[:300])

    def check(self) -> None:
        """Send every request class once and compare with DuckDB, which answers
        in a child process meanwhile. Doubles as warm-up."""
        rng = random.Random(self.seed)
        cases = [self.draw(rng, "cypher", name) for name in sorted(TEMPLATES)]
        cases += [self.draw(rng, "expand", 3), self.draw(rng, "ubo"), self.draw(rng, "explain")]
        sqls = [sql for _, _, sql in cases if sql is not None]

        def one(case):
            try:
                return self.send(case[1])
            except Exception as exc:  # noqa: BLE001 — a failing request is a result
                return f"{type(exc).__name__}: {exc}"

        self.attempted += len(cases)
        with Oracle(self.sf_dir, sqls) as oracle:
            # the clients' concurrency, so the check costs less wall time
            with ThreadPoolExecutor(CLIENTS) as pool:
                bodies = list(pool.map(one, cases))
            try:
                answers = iter(oracle.answers())
            except RuntimeError as exc:
                answers = iter([str(exc)] * len(sqls))
        for (kind, _, sql), body in zip(cases, bodies):
            if sql is None:  # /explain: a plan, nothing to compare rows with
                err = body if isinstance(body, str) else (
                    None if "Physical Plan" in body.get("plan", "") else "no plan")
            else:
                want = next(answers)
                if isinstance(body, dict) and not isinstance(want, str):
                    got = pd.DataFrame(body["rows"]) if body.get("rows") else want.iloc[:0]
                    body, want = _nulls(got), _nulls(want)
                err = verdict(body, want)
                if not err and len(want) == 0:
                    err = "no rows: the check compares nothing"
            if err:
                self._fail(f"{kind}: {err}")

    def measure(self, seconds: float, tracer=None) -> dict:
        """Three closed-loop clients, each sending one deck per ``DECK_S`` of
        ``seconds`` (at least one), so every run of the same length sends the
        same mix; latency measured at the client."""
        restore = self._trace_handlers(tracer) if tracer is not None else None
        samples: list[tuple[str, float]] = []
        t_start = time.perf_counter()
        rates: list[float] = []  # each client's completed requests per second

        def client(i: int) -> None:
            rng = random.Random(self.seed * 1000 + i)
            n, done_ok, last = 0, 0, t_start
            for _ in range(max(1, round(seconds / DECK_S))):
                deck = self.deck(i)
                rng.shuffle(deck)
                for kind, arg in deck:
                    label, req, _ = self.draw(rng, kind, arg)
                    n += 1
                    t0 = time.perf_counter()
                    try:
                        self.send(req, f"c{i}.{n}.{label}")
                        ok = True
                    except (urllib.error.URLError, OSError, ValueError) as exc:
                        ok = False
                        self._fail(f"{label}: {type(exc).__name__}: {exc}")
                    last = time.perf_counter()
                    done_ok += ok
                    with self._lock:
                        self.attempted += 1
                        if ok:
                            samples.append((label, last - t0))
            with self._lock:
                rates.append(done_ok / (last - t_start))

        threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if restore is not None:
            restore()
        lat = [d for _, d in samples]
        return {
            "window_s": time.perf_counter() - t_start,
            "ops": len(lat),
            "latency_p50_s": quantile(lat, 0.50),
            "latency_mean_s": sum(lat) / len(lat),
            "latency_p90_s": quantile(lat, 0.90),
            "throughput_rps": sum(rates),
            "by_class": {k: sorted(d for kk, d in samples if kk == k)
                         for k in sorted({k for k, _ in samples})},
        }

    def _trace_handlers(self, tracer):
        """Open a traced operation around each request the server handles."""
        handler = self.server.RequestHandlerClass
        originals = {m: getattr(handler, m) for m in ("do_GET", "do_POST")}

        def traced(orig):
            def method(h):
                req_id = h.headers.get("X-Request-Id", "")
                with tracer.operation(req_id, req_id.split(".", 2)[-1] or h.path):
                    return orig(h)
            return method
        for m, orig in originals.items():
            setattr(handler, m, traced(orig))

        def restore() -> None:
            for m, orig in originals.items():
                setattr(handler, m, orig)
        return restore

    @staticmethod
    def end_to_end(m: dict) -> dict[str, float]:
        return {
            "latency_p50_s": m["latency_p50_s"],
            "throughput_ops": m["throughput_rps"],
        }

    @staticmethod
    def cost(m: dict) -> float:
        """The figure traced and untraced windows are compared on. Every window
        of a run sends the same requests, so the mean uses all of them."""
        return m["latency_mean_s"]
