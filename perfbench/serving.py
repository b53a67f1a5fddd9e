"""The ``serve_write`` workload: REST reads with curation writes beside them.

The server reads one txlog-served readonly lake, built by the program
from a seeded statement model (``plans.fixtures.build_tables`` ->
``ReadonlyLake.from_rows`` -> ``write_txlog(stats=True)``), and mounts a
curation store validated against the model's ``pa_statements``.
Building the lake takes longer than a run may spend on set-up, so the
first run in a checkout builds it, in a process of its own, into
``.perfbench_cache/`` (keyed by the program's source); later runs open
it.  Set-up then is what a server start pays: the JVM,
``ReadonlyLake.from_txlog``, the curation store and ``rest.serve``, up to
the first ``/health`` reply.

A separate load-generator process (``loadgen.py``) drives the server
with a closed loop of ``CLIENTS`` clients; the run's ``--seed`` makes the
request streams.  After the timed window the replies are checked, a
fixed probe set is sent to the server and its replies compared with
those the same tables gave as a plain ``ReadonlyLake`` (served once, when
the lake was built), and every acknowledged curation is looked up
through a fresh ``CurationStore``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import spans

#: the lake's model: fixed, so every run serves the same lake
MODEL_SEED = 0
#: statements in the serving model (~7 evidence rows each)
N_STMTS = 12000
#: closed-loop clients.  Two, on the 4-core reference box: with four the
#: box is oversubscribed (JVM, Python workers and clients all want the
#: cores), latency is mostly queueing, and its run-to-run spread doubled
CLIENTS = 2
#: requests per client stream; far more than a window can use
STREAM_LEN = 500
#: the load generator's warm-up: a fixed 6 s, so every run has the same
#: timeline; whether the rate had settled by then is reported
WARMUP = {"settle_s": 3.0, "settle_tol": 0.3, "min_warmup_s": 6.0,
          "max_warmup_s": 6.0}
#: warm-up of a second window on an already warm server
REWARM = {"settle_s": 2.0, "settle_tol": 1.0, "min_warmup_s": 3.0,
          "max_warmup_s": 4.0}


def _layout(tables: dict) -> dict:
    """Cluster the tables the routes look up by key into a few files each,
    the way a release lays them out, so manifest pruning has files to
    skip."""
    t = dict(tables)
    for name in ("fast_raw_pa_link", "source_meta"):
        t[name] = t[name].repartition(6, "mk_hash")
    for name in ("name_meta", "other_meta"):
        t[name] = t[name].repartitionByRange(4, "db_id")
    return t


def _source_key(root: str) -> str:
    """Hash of the program's and the lake builder's source files."""
    h = hashlib.sha1()
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(here, f) for f in ("gen.py", "serving.py")]
    for d, _, names in os.walk(os.path.join(root, "indra_db_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def lake_dir(root: str) -> str:
    return os.path.join(root, ".perfbench_cache", f"lake-{_source_key(root)}")


def build_lake(spark, root: str) -> float:
    """Build the lake into :func:`lake_dir`; returns the build time."""
    from indra_db_spark.plans.fixtures import build_tables
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.schemas import PRINCIPAL_SCHEMAS
    from indra_db_spark.session import local_artifact_df

    t0 = time.monotonic()
    final = lake_dir(root)
    tmp = f"{final}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    stmts, papers, pop = gen.serving_model(MODEL_SEED, N_STMTS)
    tables = build_tables(stmts, papers)
    plain = ReadonlyLake.from_rows(spark, tables)
    ReadonlyLake(_layout(plain.tables())).write_txlog(
        spark, os.path.join(tmp, "txlog"), stats=True
    )
    plain.write_parquet(os.path.join(tmp, "plain"))
    probes = probe_replies(
        ReadonlyLake.from_parquet(spark, os.path.join(tmp, "plain")), pop)
    local_artifact_df(
        spark, gen.pa_statement_rows(stmts), PRINCIPAL_SCHEMAS["pa_statements"]
    ).write.parquet(os.path.join(tmp, "pa_statements"))
    with open(os.path.join(tmp, "model.json"), "w") as f:
        json.dump({
            "order": pop.order,
            "hashes_by_gene": gen.hashes_by_gene(stmts),
            "unique_statements": len(stmts),
            "evidence_rows": len(tables["fast_raw_pa_link"]),
            "probe_replies": probes,
        }, f)
    os.rename(tmp, final)
    return time.monotonic() - t0


def setup(spark, lake: str, work: str) -> dict:
    """Open the lake, mount the curation store and start the server; it
    is ready once ``/health`` answers."""
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.plans.principal import CurationStore
    from indra_db_spark.service.rest import serve

    cur_path = os.path.join(work, "curation")
    store = CurationStore(spark, cur_path)
    pa = spark.read.parquet(os.path.join(lake, "pa_statements"))
    tx_lake = ReadonlyLake.from_txlog(spark, os.path.join(lake, "txlog"))
    server = serve(tx_lake, curation=store, pa_statements=pa)
    status = gen.send(server.server_address[1],
                      {"method": "GET", "path": "/health"}, "setup")[2]
    if status != 200:
        server.shutdown()
        server.server_close()
        raise RuntimeError(f"/health answered {status}")
    with open(os.path.join(lake, "model.json")) as f:
        model = json.load(f)
    return {
        "lake": tx_lake, "store": store, "pa": pa, "server": server,
        "cur_path": cur_path,
        "probe_replies": model["probe_replies"],
        "pop": gen.Popularity(model["order"]),
        "hashes_by_gene": {
            int(k): v for k, v in model["hashes_by_gene"].items()
        },
        "unique_statements": model["unique_statements"],
        "evidence_rows": model["evidence_rows"],
    }


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed requests) sort
    last, so a failure counts as missing any limit."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100 * len(v) + 0.5)) - 1))
    return v[k]


def drive(env: dict, port: int, seed: int, seconds: int, work: str,
          warmup: dict = WARMUP) -> dict:
    """Run the load generator against ``port``; returns its result."""
    hbg = env["hashes_by_gene"]
    plan = {
        "port": port,
        "seconds": seconds,
        **warmup,
        "warmup": [
            [r.to_json() for r in gen.request_stream(
                seed, 100 + c, env["pop"], hbg, 200)]
            for c in range(CLIENTS)
        ],
        "timed": [
            [r.to_json() for r in gen.request_stream(
                seed, c, env["pop"], hbg, STREAM_LEN)]
            for c in range(CLIENTS)
        ],
    }
    plan_path = os.path.join(work, f"plan-{port}.json")
    out_path = os.path.join(work, f"load-{port}.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "loadgen.py"), plan_path, out_path]
    )
    try:
        code = proc.wait(timeout=seconds + warmup["max_warmup_s"] + 150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"load generator exited with {code}")
    with open(out_path) as f:
        res = json.load(f)
    res["plan"] = plan
    return res


def summarize(res: dict, pop: gen.Popularity) -> dict:
    """End-to-end metrics and input facts from one timed window."""
    recs = res["records"]

    def ms(kinds) -> list[float]:
        # a failed request counts as missing any latency limit
        return [
            (r["t1"] - r["t0"]) * 1e3 if r["ok"] else float("inf")
            for r in recs if r["kind"] in kinds
        ]

    reads = ms(gen.READ_KINDS)
    writes = ms(("submit",))
    # throughput: each client's completions in the window over the time
    # to its last one, summed, so a request cut by the window's end does
    # not round the rate down
    rate = 0.0
    for c in {r["id"].split("-")[1] for r in recs}:
        ends = [r["t1"] for r in recs if r["id"].split("-")[1] == c
                and r["ok"] and r["t1"] <= res["t_end"]]
        if ends:
            rate += len(ends) / (max(ends) - res["t_start"])
    streams = res["plan"]["timed"]
    genes = [streams[int(r["id"].split("-")[1])][r["i"]]["gene"] for r in recs]
    pages = [r["page"] for r in recs if "page" in r]
    m = {
        "op_p50_ms": _percentile(reads, 50),
        "work_per_s": rate,
    }
    facts = {
        "requests": len(recs),
        "reads": len(reads),
        "writes": len(writes),
        "failed_requests": sum(1 for r in recs if not r["ok"]),
        "read_p90_ms": _percentile(reads, 90),
        "write_p50_ms": _percentile(writes, 50),
        "read_mean_ms": statistics.fmean(reads) if reads else 0.0,
        "write_p90_ms": _percentile(writes, 90),
        "hot_agent_share": sum(g in pop.hot for g in genes) / max(len(genes), 1),
        "mean_page_size": statistics.fmean(pages) if pages else 0.0,
        "p50_ms_by_kind": {
            k: _percentile(ms((k,)), 50)
            for k in sorted({r["kind"] for r in recs})
        },
        "by_kind": {
            k: sum(1 for r in recs if r["kind"] == k)
            for k in sorted({r["kind"] for r in recs})
        },
        "warmup_s": res["warmup_s"],
        "warmup_settled": res["warmup_settled"],
        "warmup_requests": res["warmup_requests"],
    }
    return {"metrics": m, "facts": facts}


# ------------------------------------------------------------------ checks


def _canon(x):
    """Order-free form of a reply: lists of rows compare as multisets."""
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    if isinstance(x, list):
        return sorted((_canon(v) for v in x), key=lambda v: json.dumps(v, sort_keys=True))
    return x


def probe_set(pop: gen.Popularity) -> list[gen.Request]:
    """One probe per read route, on the hottest gene."""
    g = gen.gene(pop.order[0])
    name = g["NAME"]
    return [
        gen.Request("statements", "GET",
                    f"/statements/from_agents?agent={name}&limit=50&ev_limit=10"),
        gen.Request("hashes", "GET",
                    f"/hashes/from_agents?agent={g['HGNC']}@HGNC&type=Activation"),
        gen.Request("interactions", "GET",
                    f"/interactions/from_agents?subject={name}&limit=50"),
        gen.Request("agents", "GET", f"/agents/from_agents?agent={name}&limit=50"),
        gen.Request(
            "simple_json", "POST", "/statements/from_simple_json",
            body={"query": {"and": [
                {"class": "HasAgent", "agent_id": name},
                {"or": [{"class": "HasType", "stmt_types": ["Complex"]},
                        {"class": "HasSources", "sources": ["reach"]}]},
                {"not": {"class": "HasNumEvidence", "evidence_nums": [1]}},
            ]}, "limit": 50, "ev_limit": 10},
        ),
    ]


def _probe(port: int, pop: gen.Popularity) -> list:
    """The order-free reply to each probe, ``None`` where it was not 200.
    The probes are sent at once, one per thread."""
    def one(i_req):
        i, req = i_req
        _, _, status, data = gen.send(port, req.to_json(), f"p-{i}")
        return _canon(json.loads(data)) if status == 200 else None

    probes = probe_set(pop)
    with ThreadPoolExecutor(len(probes)) as pool:
        return list(pool.map(one, enumerate(probes)))


def probe_replies(plain, pop: gen.Popularity) -> list:
    """The probes' replies from a server over the plain lake ``plain``."""
    from indra_db_spark.service.rest import serve

    server = serve(plain)
    try:
        return _probe(server.server_address[1], pop)
    finally:
        server.shutdown()
        server.server_close()


def check_probes(env: dict, port: int) -> list[str]:
    """Each probe must give the reply the plain lake gave; returns the
    paths of those that do not."""
    return [
        req.path
        for req, got, want in zip(
            probe_set(env["pop"]), _probe(port, env["pop"]),
            env["probe_replies"], strict=True)
        if got is None or got != want
    ]


def check_durable(spark, cur_path: str, acked: list[int]) -> list[int]:
    """Acknowledged submit ids a fresh store on the same path cannot see."""
    from indra_db_spark.plans.principal import CurationStore

    ids = {r.id for r in CurationStore(spark, cur_path).df().select("id").collect()}
    return sorted(set(acked) - ids)


# --------------------------------------------------------------------- run


def run(spark, root: str, seed: int, seconds: int, traced: bool, work: str,
        setup_t0: float) -> tuple[dict, dict | None, dict]:
    """(metrics, per-layer metrics or None, info) of one run."""
    from indra_db_spark.service.rest import serve

    env = setup(spark, lake_dir(root), work)
    setup_s = time.monotonic() - setup_t0
    servers = [env["server"]]
    port = env["server"].server_address[1]
    info: dict = {"setup_s": setup_s}
    layers = None
    try:
        res = drive(env, port, seed, seconds, work)
        window = summarize(res, env["pop"])
        info.update(facts=window["facts"], untraced=window["metrics"])
        loads = [res]
        if traced:
            # two more windows on the warm server: a whole one through a
            # traced server (its requests give the layer medians), then
            # half a one untraced again, so the overhead is traced minus
            # the mean of the untraced windows either side
            half = max(seconds // 2, 1)
            tracer = spans.Tracer()
            tracer.install_serving()
            try:
                traced_server = serve(
                    env["lake"], curation=env["store"], pa_statements=env["pa"]
                )
                servers.append(traced_server)
                tres = drive(env, traced_server.server_address[1], seed + 1,
                             seconds, work, REWARM)
            finally:
                tracer.unpatch()
            after = drive(env, port, seed + 2, half, work, REWARM)
            loads += [tres, after]
            twin = summarize(tres, env["pop"])["metrics"]
            awin = summarize(after, env["pop"])["metrics"]
            layers = per_layer(spark, tracer, tres, env)
            for k, v in twin.items():
                layers[f"trace_overhead.{k}"] = (
                    v - (window["metrics"][k] + awin[k]) / 2
                )
            info.update(traced=twin, untraced_after=awin)

        # ---- correctness, outside the timed windows
        records = [r for load in loads for r in load["records"]]
        bad_probes = check_probes(env, port)
        acked = [r["ack"] for r in records if r.get("ack") is not None]
        lost = check_durable(spark, env["cur_path"], acked)
        errors = [e for ld in loads for e in ld["errors"]]
        info["checks"] = {
            "probes": len(env["probe_replies"]), "bad_probes": bad_probes,
            "acked": len(acked), "lost": lost, "loadgen_errors": errors,
        }
        info["attempted"] = (len(records) + len(env["probe_replies"])
                             + len(acked))
        info["failed"] = (sum(1 for r in records if not r["ok"])
                          + len(bad_probes) + len(lost) + len(errors))
        info["facts"].update(
            unique_statements=env["unique_statements"],
            evidence_per_statement=env["evidence_rows"]
            / env["unique_statements"],
            curation_log_files=curation_log_files(env),
        )
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()
    metrics = dict(window["metrics"], setup_s=setup_s)
    return metrics, layers, info


def curation_log_files(env: dict) -> int:
    path = env["cur_path"]
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def per_layer(spark, tracer, res: dict, env: dict) -> dict:
    """Per-request medians of each layer's self time, the wait outside
    the handler, prune facts and Spark's counters per request (reads and
    writes)."""
    client = {r["id"]: r for r in res["records"]}
    reqs = tracer.by_request()
    rows = []
    for rid, rec in client.items():
        r = reqs.get(rid)
        if r is None or r["root"] is None:
            continue
        root = r["root"]
        latency = (rec["t1"] - rec["t0"]) * 1e3
        prunes = r["prunes"]
        rows.append({
            "kind": rec["kind"],
            "wait": latency - (root.t1 - root.t0) * 1e3,
            "layers": {k: v * 1e3 for k, v in r["self"].items()},
            "bytes": rec["bytes"],
            "prunes": len(prunes),
            "files_read": sum(p.attrs.get("read", 0) for p in prunes),
            "files_total": sum(p.attrs.get("total", 0) for p in prunes),
        })

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    # the query layers are medians over the read routes, as op_p50_ms is
    reads = [r for r in rows if r["kind"] in gen.READ_KINDS]

    def layer_med(name, kinds=gen.READ_KINDS):
        return med([r["layers"][name] for r in rows if r["kind"] in kinds])

    total_files = sum(r["files_total"] for r in reads)
    m = {
        "service.rest.wait_ms": med([r["wait"] for r in reads]),
        "service.rest.handler_ms": layer_med(spans.ROOT),
        "service.params.fold_ms": layer_med(spans.FOLD),
        "plans.queries.compile_ms": layer_med(spans.COMPILE),
        "plans.shaping.build_ms": layer_med(spans.BUILD),
        "spark.action_ms": layer_med(spans.ACTION),
        "plans.shaping.json_ms": layer_med(spans.JSON),
        "service.rest.bytes_per_req": med([r["bytes"] for r in reads]),
        "plans.txlog.prune_ms": layer_med(spans.PRUNE),
        "plans.txlog.files_read_ratio": sum(r["files_read"] for r in reads)
        / total_files if total_files else 0.0,
        "plans.txlog.prunes_per_req": statistics.fmean(
            [r["prunes"] for r in reads]) if reads else 0.0,
        "plans.principal.submit_ms": layer_med(spans.SUBMIT, ("submit",)),
        "plans.principal.read_ms": layer_med(
            spans.READ, gen.READ_KINDS + ("curation_list",)),
        "plans.principal.log_files": float(curation_log_files(env)),
        "trace.requests_matched": float(len(rows)),
    }
    n = max(len(res["records"]), 1)
    counters = spans.spark_counters(
        spark.sparkContext, res["wall_start"], res["wall_end"]
    )
    for k, v in counters.items():
        m[f"spark.{k}_per_op"] = v / n
    return m
