"""The ``assemble`` workload: the batch release build.

One operation is one build: a seeded principal corpus, generated on the
executors with ``spark.range`` and column expressions (no rows are built
on the driver), goes through ``assembly.pipeline.run_assembly``, and
``ReadonlyLake.write_txlog(stats=True)`` commits every table it returns.

The corpus: ``N_RAW`` raw statements over ``N_SHAPES`` distinct
(type, agents) shapes with skewed duplication, read from ``N_PAPERS``
papers by two readers (reach at two versions, the older one superseded,
and sparser), ~5% knowledge-base rows, four statement types,
HGNC-grounded genes, gene -> family ontology edges with family-level
statements that the gene-level ones refine, and mesh annotations.  By
construction every shape keeps at least one surviving raw statement,
so the checks below know the exact counts the build must produce.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import spans

N_RAW = 6000
N_SHAPES = 1500
N_PAPERS = 300
N_GENES = 1500
N_FAMILIES = 150
STMT_TYPES = ("Phosphorylation", "Activation", "Inhibition", "Complex")
KBS = ("signor", "pc")
#: reading slots per text content: rid = tcid * 10 + slot
REACH_NEW, REACH_OLD, SPARSER = 1, 2, 3
#: raw statement ``i`` is read by the superseded reach version when
#: ``i % 10 == 3`` (and ``i`` is past the first copy of every shape)
OLD_MOD = 3
#: ... and comes from a knowledge base when ``i % 20 == 7``
KB_MOD = 7


def gene_name(g):
    return F.format_string("GN%04d", g)


def corpus(spark, seed: int, n_raw: int = N_RAW, n_shapes: int = N_SHAPES,
           n_papers: int = N_PAPERS) -> dict:
    """The principal inputs ``run_assembly`` needs, plus the ontology edges.

    Shapes ``k < n_gene`` are gene-level: type ``k % 4`` and genes derived
    from ``k // 4`` so that no two shapes collide.  The last tenth are
    family-level copies of gene shapes, their first agent replaced by the
    gene's family, so each is refined by the gene shape it copies.  Raw
    statement ``i < n_shapes`` is the first copy of shape ``i``; later
    ones draw a shape with a skew toward low ids, mixed by ``seed``.
    """
    n_fam_shapes = n_shapes // 10
    n_gene_shapes = n_shapes - n_fam_shapes

    papers = spark.range(1, n_papers + 1).select(
        F.col("id").cast("int").alias("trid"),
        F.format_string("%d", F.col("id") + 700000).alias("pmid"),
        (F.col("id") + 700000).cast("int").alias("pmid_num"),
        F.format_string("PMC%d", "id").alias("pmcid"),
        F.col("id").cast("int").alias("pmcid_num"),
        F.lit(None).cast("int").alias("pmcid_version"),
        F.format_string("10.1000/a%d", "id").alias("doi"),
        F.lit(1000).alias("doi_ns"),
        F.format_string("a%d", "id").alias("doi_id"),
        F.lit(None).cast("string").alias("pii"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("manuscript_id"),
    )
    content = papers.select(
        (F.col("trid") * 10).alias("tcid"),
        F.col("trid").alias("text_ref_id"),
        F.lit("pubmed").alias("source"),
        F.lit("text").alias("format"),
        F.lit("abstract").alias("text_type"),
        F.lit(False).alias("preprint"),
    )
    slots = spark.range(1, 4).select(F.col("id").cast("int").alias("slot"))
    reading = content.crossJoin(slots).select(
        (F.col("tcid").cast("long") * 10 + F.col("slot")).alias("rid"),
        F.col("tcid").alias("text_content_id"),
        F.when(F.col("slot") == SPARSER, "sparser").otherwise("reach")
        .alias("reader"),
        F.when(F.col("slot") == REACH_OLD, "1.0").otherwise("2.0")
        .alias("reader_version"),
        F.lit(1).alias("batch_id"),
    )
    db_info = spark.range(1, len(KBS) + 1).select(
        F.col("id").cast("int").alias("id"),
        F.element_at(F.array(*map(F.lit, KBS)), F.col("id").cast("int"))
        .alias("db_name"),
        F.lit("kb").alias("db_full_name"),
        F.lit("kb").alias("source_api"),
    )

    def uniform(col, salt: int):
        """A seeded uniform in [0, 1) from a column, the same on every
        partition layout."""
        return (
            F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), col), F.lit(1 << 30))
            / float(1 << 30)
        )

    i = F.col("id")
    shape = F.when(i < n_shapes, i).otherwise(
        (F.pow(uniform(i, 1), 2) * n_shapes).cast("long")
    )
    # a family shape copies gene shape ``k - n_gene_shapes``
    base = F.when(shape < n_gene_shapes, shape).otherwise(shape - n_gene_shapes)
    j = (base / 4).cast("long")
    b = F.pmod(j * 7, F.lit(N_GENES))
    u = F.pmod(b + 1 + (j / N_GENES).cast("long") * 53, F.lit(N_GENES))
    is_fam = shape >= n_gene_shapes
    first = F.when(
        is_fam, F.format_string("FAM%03d", F.pmod(u, F.lit(N_FAMILIES)))
    ).otherwise(gene_name(u))
    first_grounding = F.when(
        is_fam, F.format_string('{"NAME": "%s", "FPLX": "%s"}', first, first)
    ).otherwise(F.format_string('{"NAME": "%s", "HGNC": "%d"}', first, u + 10000))
    stmt_type = F.element_at(
        F.array(*map(F.lit, STMT_TYPES)), (F.pmod(base, F.lit(4)) + 1).cast("int")
    )
    json = F.format_string(
        '{"type": "%s", "agents": ["%s", "%s"], "agent_groundings": '
        '[%s, {"NAME": "%s", "HGNC": "%d"}]}',
        stmt_type, first, gene_name(b), first_grounding, gene_name(b),
        b + 10000,
    )
    is_kb = F.pmod(i, F.lit(20)) == KB_MOD
    paper = (uniform(i, 2) * n_papers).cast("long") + 1
    slot = (
        F.when((i >= n_shapes) & (F.pmod(i, F.lit(10)) == OLD_MOD), REACH_OLD)
        .when(F.pmod(i, F.lit(2)) == 0, REACH_NEW)
        .otherwise(SPARSER)
    )
    raw = spark.range(n_raw).select(
        (i + 1).alias("sid"),
        F.format_string("u%d", i).alias("uuid"),
        F.lit(1).alias("batch_id"),
        F.lit(0).cast("long").alias("mk_hash"),
        i.alias("source_hash"),
        F.when(is_kb, F.lit(None).cast("long"))
        .otherwise(paper * 100 + slot).alias("reading_id"),
        F.when(is_kb, (F.pmod(i, F.lit(len(KBS))) + 1).cast("int"))
        .alias("db_info_id"),
        stmt_type.alias("type"),
        F.encode(json, "utf-8").alias("json"),
    )
    mesh = papers.crossJoin(spark.range(2).withColumnRenamed("id", "k")).select(
        "pmid_num",
        F.pmod(F.col("pmid_num") * 13 + F.col("k") * 101, F.lit(400))
        .cast("int").alias("mesh_num"),
        (F.col("k") == 0).alias("major_topic"),
        (F.pmod(F.col("pmid_num") + F.col("k"), F.lit(5)) == 0)
        .alias("is_concept"),
    )
    genes = spark.range(N_GENES)
    ontology = genes.select(
        gene_name(F.col("id")).alias("child"),
        F.format_string("FAM%03d", F.pmod("id", F.lit(N_FAMILIES)))
        .alias("parent"),
    )
    return {
        "principal": {
            "text_ref": papers,
            "text_content": content,
            "reading": reading,
            "db_info": db_info,
            "raw_statements": raw,
            "mesh_ref_annotations": mesh,
        },
        "ontology": ontology,
        "expect": expected(n_raw, n_shapes),
    }


def expected(n_raw: int, n_shapes: int) -> dict:
    """What a correct build of ``corpus(.., n_raw, n_shapes)`` holds."""
    superseded = sum(1 for i in range(n_shapes, n_raw) if i % 10 == OLD_MOD)
    return {"unique": n_shapes, "surviving_raw": n_raw - superseded,
            "family_shapes": n_shapes // 10}


def materialize(spark, c: dict, path: str) -> dict:
    """Write the generated inputs once and read them back, so a build
    starts from stored principal tables, as a release build does, and
    its plans do not carry the generator's expressions.  The tables are
    written at once, one job per thread."""
    def store(item):
        name, df = item
        df.write.parquet(os.path.join(path, name))
        # with the schema given, reading back lists files and reads no
        # footers
        return name, spark.read.schema(df.schema).parquet(
            os.path.join(path, name))

    items = [*c["principal"].items(), ("ontology", c["ontology"])]
    with ThreadPoolExecutor(4) as pool:
        out = dict(pool.map(store, items))
    ontology = out.pop("ontology")
    raw_bytes = out["raw_statements"].select(
        F.sum(F.length("json"))).first()[0]
    return {"principal": out, "ontology": ontology, "raw_bytes": raw_bytes}


def build(spark, inputs: dict, lake: str) -> dict:
    """One release build; returns its wall time, its commit's, and the
    wall-clock span the Spark counters of the build fall in."""
    from indra_db_spark.assembly.pipeline import run_assembly
    from indra_db_spark.plans.lake import ReadonlyLake

    wall0, t0 = time.time(), time.monotonic()
    out = run_assembly(inputs["principal"], ontology_edges=inputs["ontology"])
    t1 = time.monotonic()
    ReadonlyLake(out).write_txlog(spark, lake, stats=True)
    t2, wall1 = time.monotonic(), time.time()
    spark.catalog.clearCache()
    return {"build_s": t2 - t0, "commit_s": t2 - t1, "wall": (wall0, wall1)}


def check(spark, lake: str, expect: dict) -> list[str]:
    """The generator's invariants on the committed lake; returns the
    ones that fail."""
    from indra_db_spark.plans.txlog import TxTable

    def table(name):
        return TxTable(spark, os.path.join(lake, name)).read()

    link = table("fast_raw_pa_link")
    per_hash = link.groupBy("mk_hash").count()
    src_sums = table("source_meta").select(
        "mk_hash",
        F.aggregate(F.map_values("src_json"), F.lit(0), lambda a, x: a + x)
        .alias("n"),
    )
    got = {
        "unique": table("pa_statements").select("mk_hash").distinct().count(),
        "surviving_raw": link.count(),
        "family_shapes": table("pa_support_links").count(),
        "link_hashes": per_hash.count(),
        "src_json_mismatch": per_hash.join(src_sums, "mk_hash", "full")
        .filter(~F.col("count").eqNullSafe(F.col("n"))).count(),
    }
    want = dict(expect, link_hashes=expect["unique"], src_json_mismatch=0)
    return [f"{k}: {got[k]} != {want[k]}" for k in CHECKS if got[k] != want[k]]


#: what :func:`check` compares with the generator's counts
CHECKS = ("unique", "surviving_raw", "family_shapes", "link_hashes",
          "src_json_mismatch")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path) for f in names
    )


def run(spark, root: str, seed: int, seconds: int, traced: bool, work: str,
        setup_t0: float) -> tuple[dict, dict | None, dict]:
    """(metrics, per-layer metrics or None, info) of one run; the
    signature is the one every workload module has.

    A release build runs in a fresh process, so the run times exactly
    one build, the first in its JVM, whatever ``seconds`` says: one build
    outlasts any window the run budget allows.  The traced run traces
    that same build.  A second, untraced build to compare it with would
    run warm, and a third that makes two warm builds comparable does not
    fit a run's time limit on a loaded host, so the overhead is the time
    the tracer spends outside the spans it records."""
    c = corpus(spark, seed)
    inputs = materialize(spark, c, os.path.join(work, "corpus"))
    setup_s = time.monotonic() - setup_t0
    builds, failures = [], []

    def one(tag: str) -> dict:
        lake = os.path.join(work, f"lake-{tag}")
        b = build(spark, inputs, lake)
        b["lake_bytes_per_raw_byte"] = dir_bytes(lake) / inputs["raw_bytes"]
        failures.extend(f"{tag}: {e}" for e in check(spark, lake, c["expect"]))
        shutil.rmtree(lake, ignore_errors=True)
        builds.append(b)
        return b

    layers = None
    if not traced:
        first = one("timed")
    else:
        tracer = spans.Tracer()
        tracer.install_assembly(spark)
        try:
            first = one("traced")
        finally:
            tracer.unpatch()
        layers = {
            f"assembly.{s.attrs['table']}.s": s.t1 - s.t0
            for s in tracer.spans if s.name == spans.APPEND
        }
        # one build is one op
        for k, v in spans.spark_counters(
                spark.sparkContext, *first["wall"]).items():
            layers[f"spark.{k}_per_op"] = v
        # the only work tracing adds to a build is its own bookkeeping
        # after each append, so the untraced build time is the traced one
        # without it
        untraced_s = first["build_s"] - tracer.own_s
        layers.update({
            "trace_overhead.op_p50_ms": tracer.own_s * 1e3,
            "trace_overhead.work_per_s":
                N_RAW / first["build_s"] - N_RAW / untraced_s,
        })
    metrics = {
        "op_p50_ms": first["build_s"] * 1e3,
        "work_per_s": N_RAW / first["build_s"],
        "setup_s": setup_s,
    }
    info = {
        "setup_s": setup_s,
        "builds": builds,
        "checks": {"builds_checked": len(builds), "failed": failures},
        "attempted": len(builds) * len(CHECKS),
        "failed": len(failures),
        "facts": {
            "raw_statements": N_RAW,
            "unique_statements": N_SHAPES,
            "raw_per_unique": N_RAW / N_SHAPES,
            "surviving_raw": c["expect"]["surviving_raw"],
            "raw_json_bytes": inputs["raw_bytes"],
            "lake_bytes_per_raw_byte": first["lake_bytes_per_raw_byte"],
            "persist_first_touched_by": tracer.first_touch if traced else None,
        },
    }
    return metrics, layers, info
