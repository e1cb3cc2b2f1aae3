"""The three workloads: seeded inputs, the measured job, output checks.

Each workload class has the same shape:

* ``setup(spark, tracer)`` synthesizes the seeded inputs;
* ``prepare(spark, tracer)`` builds the state the job starts from (a
  base KG, the two graph versions) or warms the job's code paths;
* ``job()`` runs one unit of measured work against the package's public
  functions and returns one pass/fail flag per op it attempted;
* ``final_check()`` runs the checks that are too costly for every job;
* the optional parts default in :class:`Workload`.

The seed picks the page order and slicing, the refresh batches, the edit
set of the second graph version and the op order; the package only ever
receives the generated DataFrames.
"""

from __future__ import annotations

import random
import statistics
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orionbelt_ontology_builder_spark.model import OWL, RDF, RDFS, TRIPLE_COLS, local_df
from orionbelt_ontology_builder_spark.operators import (
    fixpoint,
    query,
    reasoning,
    setops,
    sparql,
    validation,
)
from orionbelt_ontology_builder_spark.pipeline import pages as P
from orionbelt_ontology_builder_spark.pipeline import run as R
from orionbelt_ontology_builder_spark.sources import ntriples, relational

#: Input sizes per scale.  ``full`` is what the benchmark measures;
#: ``tiny`` is the smoke test and the census of layers a workload does
#: not call itself.
SCALES = {
    "full": {
        "build_pages": 60_000,
        "refresh_base": 10_000,
        "refresh_batch": 500,
        "ops_pages": 20_000,
        "ops_customers": 6_000,
        "ops_suppliers": 600,
    },
    "tiny": {
        "build_pages": 2_000,
        "refresh_base": 2_000,
        "refresh_batch": 200,
        "ops_pages": 1_000,
        "ops_customers": 1_000,
        "ops_suppliers": 100,
    },
}

KG = "http://example.org/kg#"

#: Refresh batches folded per run, whatever ``--seconds`` says: the
#: median of three batches is not moved by one slow batch, the first
#: one included, and a fixed count keeps the first batch's share of the
#: median the same in every run.  A traced run re-folds the last batch
#: (see :meth:`Refresh.traced_job`).
BATCHES = 3


def _pid():
    return F.regexp_extract("url", "/page/([0-9]+)$", 1).cast("long")


def seeded_pages(spark, n: int, seed: int, slices: int) -> DataFrame:
    """``n`` synthesized pages dealt into ``slices`` input splits by a
    seeded hash, in seeded order inside each split."""
    key = F.xxhash64(F.lit(seed), "url")
    return P.synthesize_pages(spark, n).repartition(slices, key).sortWithinPartitions(key)


def _release(*dfs) -> None:
    for df in dfs:
        df.unpersist()


class Workload:
    """Defaults for the optional parts of a workload."""

    #: Jobs the measured window holds at least, however short it is.
    min_jobs = 1

    def has_next(self) -> bool:
        """False once the workload has no input left for another job."""
        return True

    def traced_job(self) -> list[bool]:
        """The job of the traced pass."""
        return self.job()

    def trace_counts(self, tracer) -> None:
        """Counts taken after a traced job, outside its timed spans."""

    def layer_values(self) -> dict[str, float]:
        """Per-layer values read from the engine after the measured loop."""
        return {}


class Build(Workload):
    """``run.build_kg`` over the seeded pages; edges and class hierarchy
    materialized.  Check: P/R against ``pages.ground_truth_df`` is
    exactly 1.0/1.0."""

    def __init__(self, scale: dict, seed: int):
        self.n = scale["build_pages"]
        self.seed = seed
        self.last = None

    def setup(self, spark, tracer):
        self.spark = spark
        slices = 2 * spark.sparkContext.defaultParallelism
        with tracer.span("pages.synth"):
            self.pages = seeded_pages(spark, self.n, self.seed, slices).persist()
            self.pages.count()

    def prepare(self, spark, tracer):
        # warm-up: one untimed job, so code generation and JIT land in
        # set-up instead of the first measured build
        self.job()

    def job(self) -> list[bool]:
        if self.last is not None:
            _release(*self.last)
        kg = R.build_kg(self.pages)
        edges = kg["edges"].persist()
        edges.count()
        kg["class_hierarchy"].count()
        self.last = (edges, kg["raw_triples"], kg["same_as"])
        return [True]

    def final_check(self) -> bool:
        pr = R.precision_recall(self.last[0], P.ground_truth_df(self.spark, self.n))
        ok = pr["precision"] == 1.0 and pr["recall"] == 1.0
        if not ok:
            print(f"build check failed: {pr}", file=sys.stderr)
        return ok


class Refresh(Workload):
    """Fold seeded batches of new pages (from a grown web) into a base
    KG with ``run.incremental_update``.  Each batch is done when its canonical
    map is written as a new snapshot, its raw triples are appended to the
    raw table and its edge delta (the MERGE payload) is materialized.
    Check: the applied edges after the last batch equal a full
    ``build_kg`` over the same pages, row for row."""

    min_jobs = BATCHES

    def __init__(self, scale: dict, seed: int, work: str):
        self.base_n = scale["refresh_base"]
        self.batch_n = scale["refresh_batch"]
        self.seed = seed
        self.work = work
        self.folded = 0
        self.inc = self.traced_inc = None
        self.leaked: list[int] = []

    def setup(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        # The web grows between crawls.  The base is a crawl of a web of
        # base_n pages; the batches are the pages a later crawl of the
        # grown web (total pages) finds on top of those, dealt into
        # batches in seeded order.  The synthesizer's entity vocabulary
        # grows with the web, so a batch names new entities as well as
        # known ones.  Batches drawn from the base's own web would not:
        # every alias of every entity is already on some base page.
        total = self.base_n + BATCHES * self.batch_n
        new = list(range(self.base_n, total))
        random.Random(self.seed).shuffle(new)
        assign = local_df(
            spark,
            [(pid, 1 + rank // self.batch_n) for rank, pid in enumerate(new)],
            "pid long, part int",
        )
        slices = 2 * spark.sparkContext.defaultParallelism
        with tracer.span("pages.synth"):
            grown = (
                seeded_pages(spark, total, self.seed, slices)
                .withColumn("pid", _pid())
                .join(F.broadcast(assign), "pid")
                .drop("pid")
            )
            base = seeded_pages(spark, self.base_n, self.seed, slices)
            pages = base.withColumn("part", F.lit(0)).unionByName(grown).persist()
            pages.count()
        self.pages = pages

    def prepare(self, spark, tracer):
        base = self._batch_pages(0)
        kg = R.build_kg(base)
        kg["raw_triples"].write.mode("overwrite").parquet(self._raw(self.work, 0))
        kg["canonical_map"].write.mode("overwrite").parquet(self._map(self.work, 0))
        _release(kg["raw_triples"], kg["same_as"])

    @staticmethod
    def _raw(root: str, i: int) -> str:
        return f"{root}/raw/b{i}"

    @staticmethod
    def _map(root: str, i: int) -> str:
        return f"{root}/map_{i}"

    def _batch_pages(self, i: int) -> DataFrame:
        return self.pages.filter(F.col("part") == i).drop("part")

    def has_next(self) -> bool:
        return self.folded < BATCHES

    def _fold(self, i: int, out: str):
        """Fold batch ``i`` into the state the previous batches left in
        ``self.work``, writing the new map and raw part under ``out``."""
        spark = self.spark
        # the raw table is the base plus one appended part per batch; a
        # batch reads the parts that existed when it started
        raw_old = spark.read.parquet(*[self._raw(self.work, j) for j in range(i)])
        map_old = spark.read.parquet(self._map(self.work, i - 1))
        batch = self._batch_pages(i)
        inc = R.incremental_update(raw_old, map_old, batch)
        inc["canonical_map"].write.parquet(self._map(out, i))
        urls = batch.select(F.col("url").alias("source_url"))
        (
            inc["raw_triples"]
            .join(F.broadcast(urls), "source_url", "left_semi")
            .write.parquet(self._raw(out, i))
        )
        # the MERGE payload; the kept edges are never forced by a batch
        with self.tracer.span("refresh.rewrite"):
            inc["edges_delta"].count()
        return inc, raw_old

    def job(self) -> list[bool]:
        registry = self.spark.sparkContext._jsc.sc()
        before = registry.getPersistentRDDs().size()
        i = self.folded + 1
        self.inc, self.raw_old = self._fold(i, self.work)
        self.folded = i
        # RDDs the batch left registered as persistent
        self.leaked.append(registry.getPersistentRDDs().size() - before)
        return [True]

    def traced_job(self) -> list[bool]:
        """Re-fold the last measured batch from the same state, into a
        separate directory, so the traced and untraced latencies are of
        the same batch.  The state the final check reads is untouched."""
        if not self.folded:
            return self.job()
        self.traced_inc, self.raw_old = self._fold(self.folded, f"{self.work}/traced")
        return [True]

    def layer_values(self) -> dict[str, float]:
        return {"refresh.persisted_rdds": statistics.median(self.leaked)}

    def trace_counts(self, tracer) -> None:
        raw = self.raw_old
        with tracer.span("trace.counts") as rec:
            rec["old_mentions"] = (
                raw.select(F.col("subj_surface").alias("m"))
                .unionByName(raw.select(F.col("obj_surface").alias("m")))
                .distinct()
                .count()
            )
            inc = self.traced_inc or self.inc
            rec["affected_old_rows"] = inc["raw_affected_old"].count()

    def final_check(self) -> bool:
        pages = self.pages.filter(F.col("part") <= self.folded).drop("part")
        full = R.build_kg(pages)["edges"]
        got = self.inc["edges"]
        extra = got.exceptAll(full).count()
        missing = full.exceptAll(got).count()
        if extra or missing:
            # run.py's incremental == full-rebuild law has a known
            # counterexample: fresh mentions can push an LSH bucket over
            # max_bucket, so the incremental map keeps merges a rebuild
            # drops.  Report it; never mask it.
            print(
                f"refresh check failed after {self.folded} batches: "
                f"{extra} edges only in the incremental result, "
                f"{missing} only in the full rebuild "
                "(extra-only is the bucket cap-crossing divergence)",
                file=sys.stderr,
            )
        return not extra and not missing


# ---------------------------------------------------------------------------
# ontology_ops
# ---------------------------------------------------------------------------

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

def relational_tables(spark, out_dir: str, customers: int, suppliers: int, seed: int):
    """TPC-H-shaped region/nation/customer/supplier parquet tables for
    ``relational.induce_triples``; nation and balance draws are seeded."""
    spark.createDataFrame(
        list(enumerate(REGIONS)), "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{out_dir}/region.parquet")
    spark.createDataFrame(
        [(i, n, i % 5) for i, n in enumerate(NATIONS)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(f"{out_dir}/nation.parquet")

    def people(n, key, pfx):
        h = F.xxhash64(F.lit(seed), F.lit(pfx), "id")
        return spark.range(1, n + 1).select(
            F.col("id").alias(f"{pfx}_{key}"),
            F.format_string(f"{key.capitalize()}#%09d", "id").alias(f"{pfx}_name"),
            F.pmod(h, F.lit(25)).cast("int").alias(f"{pfx}_nationkey"),
            (F.pmod(F.xxhash64(h), F.lit(1_100_000)) / 100.0 - 1000.0).alias(
                f"{pfx}_acctbal"
            ),
            F.element_at(
                F.array(*[F.lit(s) for s in SEGMENTS]),
                (F.pmod(h, F.lit(5)) + 1).cast("int"),
            ).alias(f"{pfx}_mktsegment"),
        )

    people(customers, "custkey", "c").write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    people(suppliers, "suppkey", "s").drop("s_mktsegment").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/supplier.parquet")


def _uri(col):
    return F.concat(F.lit(KG), F.regexp_replace(col, "[- ]", "_"))


def kg_triples(edges: DataFrame) -> DataFrame:
    """KG edges (surface strings) -> URI triples, with class, property
    and label declarations so validation and reasoning have schema to
    work on."""
    e = edges.select("subj", "pred", "obj").distinct()
    schema_pred = F.col("pred").isin("type", "subClassOf")
    pred = (
        F.when(F.col("pred") == "type", F.lit(RDF.type))
        .when(F.col("pred") == "subClassOf", F.lit(RDFS.subClassOf))
        .otherwise(F.concat(F.lit(KG), "pred"))
    )
    facts = e.select(
        _uri("subj").alias("subj"), pred.alias("pred"), _uri("obj").alias("obj"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_dt"),
    )
    classes = (
        e.filter(schema_pred).select(F.col("obj").alias("n"))
        .unionByName(e.filter(F.col("pred") == "subClassOf").select(F.col("subj").alias("n")))
        .distinct()
    )
    entities = e.filter(~schema_pred).select(F.col("subj").alias("n")).distinct()

    def rows(df, pred_uri, obj, kind="uri"):
        return df.select(
            _uri("n").alias("subj"), F.lit(pred_uri).alias("pred"), obj.alias("obj"),
            F.lit(kind).alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        )

    props = e.filter(~schema_pred).select(F.col("pred").alias("n")).distinct()
    return (
        facts.unionByName(rows(classes, RDF.type, F.lit(OWL.Class)))
        .unionByName(rows(classes, RDFS.label, F.col("n"), "literal"))
        .unionByName(rows(entities, RDFS.label, F.col("n"), "literal"))
        .unionByName(rows(props, RDF.type, F.lit(OWL.ObjectProperty)))
        .unionByName(rows(props, RDFS.domain, F.lit(KG + "organization")))
    )


class OntologyOps(Workload):
    """A seeded mix of ontology-engine calls over one graph (the build's
    edges as URIs, unioned with triples induced from relational tables)
    and a seeded second version of it.  One job is one round of the mix,
    every op once, in a seeded order."""

    OPS = ["merge", "diff", "reason", "validate", "superclasses", "query", "nt"]

    def __init__(self, scale: dict, seed: int, work: str):
        self.scale = scale
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = None
        self.expect: dict[str, int] = {}
        self.seen: dict[str, object] = {}

    def setup(self, spark, tracer):
        self.tracer = tracer
        s = self.scale
        # the build's edge set: build_kg reproduces the synthesizer's
        # ground truth exactly (P/R 1.0, checked on ``build``), so this
        # workload takes it from there and runs no extraction or linking
        with tracer.span("pages.synth"):
            self.edges = (
                P.ground_truth_df(spark, s["ops_pages"])
                .select(F.col("s").alias("subj"), F.col("p").alias("pred"), F.col("o").alias("obj"))
                .persist()
            )
            self.edges.count()
        relational_tables(spark, self.work, s["ops_customers"], s["ops_suppliers"], self.seed)

    def prepare(self, spark, tracer):
        v1 = (
            kg_triples(self.edges)
            .unionByName(relational.induce_triples(spark, self.work))
            .dropDuplicates(TRIPLE_COLS)
            .localCheckpoint(eager=True)
        )
        _release(self.edges)
        n1 = v1.count()
        # edit set: drop non-conflict rows, relabel some subjects (a
        # conflict predicate: MERGE_OVERWRITE replaces the old value),
        # add new typed + labelled subjects
        h = F.pmod(F.xxhash64(F.lit(self.seed), *TRIPLE_COLS[:3]), F.lit(50))
        is_label = F.col("pred") == RDFS.label
        conflict = F.col("pred").isin(RDFS.label, RDFS.domain, RDFS.range)
        drop = (h == 7) & ~conflict
        relabel = (h == 11) & is_label
        keep = v1.filter(~drop & ~relabel)
        relabeled = v1.filter(relabel).withColumn("obj", F.concat("obj", F.lit(" (rev)")))
        n_new = 200 + self.seed % 100
        new = spark.range(n_new).select(
            F.format_string(KG + "new_%d_%d", F.lit(self.seed), "id").alias("subj"),
            F.array(
                F.struct(F.lit(RDF.type).alias("p"), F.lit(KG + "company").alias("o"), F.lit("uri").alias("k")),
                F.struct(F.lit(RDFS.label).alias("p"), F.format_string("New %d", "id").alias("o"), F.lit("literal").alias("k")),
            ).alias("po"),
        ).select("subj", F.explode("po").alias("po")).select(
            "subj", F.col("po.p").alias("pred"), F.col("po.o").alias("obj"),
            F.col("po.k").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        )
        v2 = keep.unionByName(relabeled).unionByName(new).localCheckpoint(eager=True)
        n_drop = v1.filter(drop).count()
        n_relabel = v1.filter(relabel).count()
        added = 2 * n_new
        self.expect = {
            "added": added + n_relabel,
            "removed": n_drop + n_relabel,
            "unchanged": n1 - n_drop - n_relabel,
            "merge_rows": n1 + added,
        }
        self.v1, self.v2 = v1, v2

    def _stable(self, key, value) -> bool:
        """Deterministic results must repeat exactly across rounds."""
        first = self.seen.setdefault(key, value)
        if first != value:
            print(f"ontology_ops check failed: {key} {value} != {first}", file=sys.stderr)
        return first == value

    def _expect(self, key, value) -> bool:
        if self.expect[key] != value:
            print(
                f"ontology_ops check failed: {key} {value} != expected {self.expect[key]}",
                file=sys.stderr,
            )
        return self.expect[key] == value

    def op(self, name: str) -> bool:
        v1, v2, span = self.v1, self.v2, self.tracer.span
        if name == "merge":
            with span("setops.merge"):
                n = setops.merge_graphs(v1, v2, setops.MERGE_OVERWRITE).count()
            return self._expect("merge_rows", n)
        if name == "diff":
            with span("setops.diff"):
                row = setops.diff_summary(v1, v2).collect()[0]
                added = setops.diff_graphs(v1, v2)["added"].count()
            return all(
                [
                    self._expect("added", row["added"]),
                    self._expect("removed", row["removed"]),
                    self._expect("unchanged", row["unchanged"]),
                    self._expect("added", added),
                ]
            )
        if name == "reason":
            with span("reasoning") as rec:
                _, inferred = reasoning.apply_reasoning(v1, profile="rdfs")
                rec["inferred"] = inferred
            return self._stable("inferred", inferred)
        if name == "validate":
            with span("validation") as rec:
                rec["issues"] = issues = validation.validate(v1).count()
            return self._stable("issues", issues)
        if name == "superclasses":
            with span("fixpoint.superclasses"):
                n = fixpoint.expand_superclasses(v1, RDFS.subClassOf).count()
            return self._stable("superclasses", n)
        if name == "query":
            rows = []
            with span("query.bgp") as rec:
                rows.append(
                    query.match_bgp(
                        v1, [("?x", RDF.type, "?n"), ("?n", RDFS.subClassOf, "?r")]
                    ).count()
                )
                rec["rows"] = rows[-1]
            with span("query.path") as rec:
                rows.append(
                    query.eval_path(v1, [KG + "locatedIn", KG + "worksWith"]).count()
                )
                rec["rows"] = rows[-1]
            with span("query.sparql") as rec:
                rows.append(
                    sparql.sparql_select(
                        v1,
                        f"SELECT ?x ?l WHERE {{ ?x <{RDF.type}> <{KG}company> . "
                        f"?x <{RDFS.label}> ?l }} ORDER BY ?l LIMIT 100",
                    ).count()
                )
                rec["rows"] = rows[-1]
            return self._stable("query_rows", tuple(rows))
        if name == "nt":
            lines, back = self._round_trip()
            _release(lines, back)
            return True
        raise ValueError(name)

    def _round_trip(self):
        with self.tracer.span("ntriples.serialize"):
            lines = ntriples.serialize_nt(self.v1).persist()
            lines.count()
        with self.tracer.span("ntriples.parse"):
            back = ntriples.parse_nt(lines).persist()
            back.count()
        return lines, back

    def job(self) -> list[bool]:
        order = list(self.OPS)
        self.rng.shuffle(order)
        return [self.op(name) for name in order]

    def final_check(self) -> bool:
        """The N-Triples round trip gives back the graph: an empty
        ``exceptAll`` in both directions."""
        lines, back = self._round_trip()
        ok = back.exceptAll(self.v1).isEmpty() and self.v1.exceptAll(back).isEmpty()
        _release(lines, back)
        if not ok:
            print("ontology_ops check failed: N-Triples round trip", file=sys.stderr)
        return ok
