"""Seeded input generators for the benchmark.

Everything a workload feeds the program is made here: the serving model
(a scaled statement corpus over HGNC-grounded genes, from a fixed seed)
and the request and write mixes (from ``--seed``).  The same seed gives
the same inputs.  The program only ever sees the generated rows and HTTP
requests.
"""

from __future__ import annotations

import http.client
import json
import random
import time
from dataclasses import dataclass

from indra_db_spark.plans.fixtures import (
    READERS,
    EvidenceFx,
    PaperFx,
    StatementFx,
    stable_hash,
)
from indra_db_spark.schemas import DB_SOURCES

N_GENES = 1500
#: genes ranked below this are "hot": the head of the skewed popularity
HOT_GENES = 15
#: popularity tiers by rank: hot, warm, tail; they hold ~52%, ~27% and
#: ~21% of the Zipf(1.1) mass over N_GENES genes
TIERS = ((0, HOT_GENES), (HOT_GENES, 150), (150, None))
#: the tier of each request in a block of 20: 50% hot, 30% warm, 20% tail
TIER_BLOCK = (0, 1, 0, 2, 0, 1, 0, 0, 1, 2, 0, 1, 0, 0, 2, 1, 0, 1, 0, 2)
STMT_TYPES = ("Phosphorylation", "Activation", "Inhibition", "Complex")
TYPE_WEIGHTS = (0.35, 0.3, 0.2, 0.15)
SOURCES = ("reach", "medscan", "signor", "pc")
MESH_TERMS = tuple(f"D{1000 + i:06d}" for i in range(40))
MESH_CONCEPTS = tuple(f"C{2000 + i:06d}" for i in range(10))

PAGE_LIMIT = 50
EV_LIMIT = 10


def gene(i: int) -> dict:
    """Grounding dict of gene ``i``: a NAME plus an HGNC id."""
    return {"NAME": f"GN{i:04d}", "HGNC": str(10000 + i)}


class Popularity:
    """Zipf(1.1) popularity over the gene ids, ranked in ``order``."""

    def __init__(self, order: list[int], s: float = 1.1):
        self.order = list(order)
        self.weights = [1.0 / (r + 1) ** s for r in range(len(order))]
        self.hot = set(self.order[:HOT_GENES])

    @classmethod
    def seeded(cls, rng: random.Random, n: int = N_GENES) -> "Popularity":
        order = list(range(n))
        rng.shuffle(order)
        return cls(order)

    def draw(self, rng: random.Random, tier: int | None = None) -> int:
        """A gene by popularity, or within one popularity tier."""
        lo, hi = (0, len(self.order)) if tier is None else TIERS[tier]
        return rng.choices(self.order[lo:hi], self.weights[lo:hi])[0]


# ------------------------------------------------------------ serving model


def serving_model(
    seed: int, n_stmts: int, n_papers: int = 400
) -> tuple[list[StatementFx], list[PaperFx], Popularity]:
    """``n_stmts`` distinct statements over skewed gene pairs, with
    evidence counts drawn from a long-tailed distribution (mean ~6)."""
    rng = random.Random(seed)
    pop = Popularity.seeded(rng)
    papers = [
        PaperFx(
            trid=1000 + i,
            pmid=str(800000 + i),
            pmcid=f"PMC{500000 + i}",
            doi=f"10.1000/b{i}",
        )
        for i in range(n_papers)
    ]
    seen: set[tuple] = set()
    stmts: list[StatementFx] = []
    while len(stmts) < n_stmts:
        t = rng.choices(STMT_TYPES, TYPE_WEIGHTS)[0]
        a, b = pop.draw(rng), pop.draw(rng)
        if a == b:
            continue
        if t == "Complex" and a > b:
            a, b = b, a
        if (t, a, b) in seen:
            continue
        seen.add((t, a, b))
        s = StatementFx(0, t, [gene(a), gene(b)])
        names = ",".join(ag["NAME"] for ag in s.agents)
        # the key preprocess.compute_mk_hash derives from the same JSON
        s.mk_hash = stable_hash(f"{t}:{names}:None:False")
        stmts.append(s)

    sid = 1
    for s in stmts:
        for src in sorted(rng.sample(SOURCES, rng.choice((1, 1, 2, 3)))):
            s.src_counts[src] = min(1 + int(rng.expovariate(1 / 3.5)), 60)
        s.belief = round(rng.random(), 4)
        if s.has_rd:
            s.mesh_terms = sorted(rng.sample(MESH_TERMS, rng.randint(0, 2)))
            if rng.random() < 0.2:
                s.mesh_concepts = [rng.choice(MESH_CONCEPTS)]
        for src, n in s.src_counts.items():
            for _ in range(n):
                if src in READERS:
                    paper = rng.choice(papers)
                    rid = stable_hash(f"rid:{paper.trid}:{src}") % (1 << 40)
                    s.evidences.append(
                        EvidenceFx(sid, src, rid, None, paper.trid)
                    )
                else:
                    s.evidences.append(
                        EvidenceFx(
                            sid, src, None, 1 + DB_SOURCES.index(src), None
                        )
                    )
                sid += 1
    return stmts, papers, pop


# ------------------------------------------------------------- request mixes


@dataclass
class Request:
    kind: str
    method: str
    path: str
    body: dict | None = None
    #: gene id the request is about, for the hot-agent share
    gene: int | None = None
    #: page bounds the reply must respect (None: not a statement page)
    limit: int | None = None
    ev_limit: int | None = None

    def to_json(self) -> dict:
        return self.__dict__


def send(port: int, req: dict, tag: str) -> tuple[float, float, int, bytes]:
    """One request on a fresh connection, tagged with ``X-Bench-Id``;
    returns (send time, full-body time, status, body).  A connection
    error reads as status 0.  Used by the load generator and by the
    benchmark's own probes."""
    body = json.dumps(req["body"]).encode() if req.get("body") else None
    headers = {"X-Bench-Id": tag}
    if body is not None:
        headers["Content-Type"] = "application/json"
    t0 = time.monotonic()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(req["method"], req["path"], body=body, headers=headers)
        resp = conn.getresponse()
        data, status = resp.read(), resp.status
    except OSError:
        data, status = b"", 0
    finally:
        conn.close()
    return t0, time.monotonic(), status, data


def check_reply(req: dict, status: int, data: bytes) -> tuple[bool, dict]:
    """(ok, facts) for one reply: 200, page bounds respected."""
    if status != 200:
        return False, {}
    try:
        out = json.loads(data)
    except ValueError:
        return False, {}
    facts: dict = {}
    if "statements" in out:
        stmts = out["statements"]
        facts["page"] = len(stmts)
        if req["limit"] is not None and len(stmts) > req["limit"]:
            return False, facts
        if req["ev_limit"] is not None and any(
            len(s.get("evidence", [])) > req["ev_limit"] for s in stmts.values()
        ):
            return False, facts
    elif "results" in out and req["limit"] is not None:
        if len(out["results"]) > req["limit"]:
            return False, facts
    if req["kind"] == "submit":
        facts["ack"] = out.get("ref", {}).get("id")
        if facts["ack"] is None:
            return False, facts
    return True, facts


def _agent_spec(rng: random.Random, g: int) -> str:
    ag = gene(g)
    return f"{ag['HGNC']}@HGNC" if rng.random() < 0.3 else ag["NAME"]


def _leaf(rng: random.Random) -> dict:
    r = rng.random()
    if r < 0.4:
        return {"class": "HasType", "stmt_types": [rng.choice(STMT_TYPES)]}
    if r < 0.7:
        return {"class": "HasSources", "sources": [rng.choice(SOURCES)]}
    return {
        "class": "HasNumEvidence",
        "evidence_nums": sorted(rng.sample(range(1, 8), 3)),
    }


def simple_json_tree(
    rng: random.Random, pop: Popularity, tier: int
) -> tuple[dict, int]:
    """An and/or/not tree anchored on one agent, so every query is bounded
    by an agent's statements the way the search page builds them."""
    g = pop.draw(rng, tier)
    agent = {"class": "HasAgent", "agent_id": gene(g)["NAME"]}
    shape = rng.random()
    if shape < 0.35:
        tree = {"and": [agent, _leaf(rng)]}
    elif shape < 0.7:
        tree = {"and": [agent, {"or": [_leaf(rng), _leaf(rng)]}]}
    else:
        tree = {"and": [agent, {"not": _leaf(rng)}]}
    return tree, g


#: the read routes; ``op_p50_ms`` is taken over these
READ_KINDS = ("statements", "hashes", "interactions", "agents", "simple_json")
#: one block of the request mix, interleaved: 30% submits, 20% curation
#: lists, and the rest the read mix (statement pages 4 of 10, hashes 2,
#: simple-JSON queries 2, interactions and agents 1 each)
BLOCK = (
    "submit", "statements", "curation_list", "hashes", "submit",
    "simple_json", "statements", "curation_list", "submit", "interactions",
    "statements", "agents", "submit", "curation_list", "hashes",
    "simple_json", "submit", "statements", "curation_list", "submit",
)


def read_request(
    rng: random.Random, pop: Popularity, kind: str, tier: int
) -> Request:
    """A read-mix request; statement pages ask for curation counts."""
    g = pop.draw(rng, tier)
    spec = _agent_spec(rng, g)
    if kind == "statements":
        path = (
            f"/statements/from_agents?agent={spec}"
            f"&limit={PAGE_LIMIT}&ev_limit={EV_LIMIT}&with_cur_counts=true"
        )
        return Request(kind, "GET", path, gene=g,
                       limit=PAGE_LIMIT, ev_limit=EV_LIMIT)
    if kind == "hashes":
        t = rng.choice(STMT_TYPES)
        return Request(
            kind, "GET",
            f"/hashes/from_agents?agent={spec}&type={t}&limit={PAGE_LIMIT}",
            gene=g, limit=PAGE_LIMIT,
        )
    if kind == "interactions":
        return Request(
            kind, "GET",
            f"/interactions/from_agents?subject={spec}&limit={PAGE_LIMIT}",
            gene=g, limit=PAGE_LIMIT,
        )
    if kind == "agents":
        return Request(
            kind, "GET",
            f"/agents/from_agents?agent={spec}&limit={PAGE_LIMIT}",
            gene=g, limit=PAGE_LIMIT,
        )
    tree, g = simple_json_tree(rng, pop, tier)
    path = "/statements/from_simple_json?with_cur_counts=true"
    return Request(
        kind, "POST", path,
        body={"query": tree, "limit": PAGE_LIMIT, "ev_limit": EV_LIMIT},
        gene=g, limit=PAGE_LIMIT, ev_limit=EV_LIMIT,
    )


def curation_request(
    rng: random.Random, pop: Popularity, kind: str, tier: int,
    hashes_by_gene: dict[int, list[int]], tag: str,
) -> Request:
    g = pop.draw(rng, tier)
    while g not in hashes_by_gene:
        g = pop.draw(rng, tier)
    h = rng.choice(hashes_by_gene[g])
    if kind == "curation_list":
        return Request(kind, "GET", f"/curation/list/{h}", gene=g)
    body = {
        "tag": rng.choice(("correct", "wrong_relation", "grounding")),
        "curator": f"curator{rng.randrange(40)}@example.org",
        "text": tag,
        "source": "perfbench",
    }
    return Request(kind, "POST", f"/curation/submit/{h}", body=body, gene=g)


def request_stream(
    seed: int,
    stream: int,
    pop: Popularity,
    hashes_by_gene: dict[int, list[int]],
    n: int,
) -> list[Request]:
    """The ``n`` first requests of one client's seeded stream.  The route
    sequence is :data:`BLOCK`, rotated per client and the same for every
    seed, so any prefix of a run holds the same routes and popularity
    tiers; the seed picks the agents within tiers, the hashes, types and
    trees."""
    rng = random.Random(f"{seed}:{stream}")
    shift = (5 * stream) % len(BLOCK)
    out: list[Request] = []
    while len(out) < n:
        kind = BLOCK[(shift + len(out)) % len(BLOCK)]
        tier = TIER_BLOCK[len(out) % len(TIER_BLOCK)]
        if kind in ("submit", "curation_list"):
            out.append(curation_request(
                rng, pop, kind, tier, hashes_by_gene, f"{stream}:{len(out)}"))
        else:
            out.append(read_request(rng, pop, kind, tier))
    return out


def hashes_by_gene(stmts: list[StatementFx]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for s in stmts:
        for ag in s.agents:
            out.setdefault(int(ag["HGNC"]) - 10000, []).append(s.mk_hash)
    return out


def pa_statement_rows(stmts: list[StatementFx]) -> list[dict]:
    """pa_statements rows for the curation store's hash validation."""
    from indra_db_spark.plans.fixtures import stmt_json_bytes

    return [
        {
            "mk_hash": s.mk_hash,
            "matches_key": f"{s.stmt_type}:{s.mk_hash}",
            "type": s.stmt_type,
            "json": stmt_json_bytes(s),
        }
        for s in stmts
    ]

