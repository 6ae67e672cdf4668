"""The benchmark's workloads: inputs, one op, its traced replay, and the
check of its output.

An op goes through the engine's public entry points only:
``OntologyLoaderController.run_ontology_loader`` for the loads, and
``pipeline.transcript_assertions`` plus ``pipeline.mention_ancestor_triples``
(published through ``ParquetStateStore``) for the transcript KG. The
traced replay calls the same functions in the same order as
``run_ontology_loader`` / ``pipeline.extract`` and the two transcript
functions, with a span around each layer's calls.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from ontology_loader_spark import pipeline
from ontology_loader_spark.controller import (
    CLASS_TABLE,
    RELATION_TABLE,
    OntologyLoaderController,
)
from ontology_loader_spark.operators.classes import build_ontology_classes
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    direct_relations,
    relevant_entities,
)
from ontology_loader_spark.operators.reconcile import (
    delete_obsolete_relations,
    obsolete_ids,
    reconcile,
)
from ontology_loader_spark.operators.redirects import redirect_map
from ontology_loader_spark.operators.relations import (
    attach_relations,
    distinct_relations,
    union_relations,
)
from ontology_loader_spark.schemas import ONTOLOGY_CLASS_FIELDS
from ontology_loader_spark.sinks.reports import Report, write_reports
from ontology_loader_spark.sinks.state import ParquetStateStore
from ontology_loader_spark.transcripts.mentions import detect_mentions, top1_links
from ontology_loader_spark.transcripts.unionfind import (
    comention_pairs,
    connected_components_dict_bounded,
)

import check
import gen
from spans import Tracer

ONT = gen.ONTOLOGY
NAMESPACE = "kg"
CLASS_T, REL_T = f"{NAMESPACE}.{CLASS_TABLE}", f"{NAMESPACE}.{RELATION_TABLE}"
ASSERT_T, ANCESTOR_T = f"{NAMESPACE}.transcript_assertions", f"{NAMESPACE}.mention_ancestors"

# Input sizes. Per-op wall is dominated by Spark job latency (the
# closure and reconcile fixpoints run one job per step), so these are
# chosen for several ops per run on four cores, not for GO scale.
LOAD_TERMS = 5000
TRANSCRIPT_TERMS = 4000
DICT_SURFACES = 2000
TURNS = 100_000


def _dir_bytes(*dirs: Path) -> int:
    return sum(p.stat().st_size for d in dirs for p in d.rglob("*") if p.is_file())


class Published:
    """An op's output tables in the parquet store, as the check and the
    size metrics see them."""

    # check name -> (store table, hashed columns)
    tables: dict[str, tuple[str, str]]
    planted: str  # the table that --plant-defect leaves one row out of
    store_root: Path

    def table_dirs(self) -> dict[str, Path]:
        store = ParquetStateStore(str(self.store_root))
        return {name: store.root / table / f"v_{store.current_version(table)}"
                for name, (table, _) in self.tables.items()}

    def published_files(self) -> list[Path]:
        return [p for d in self.table_dirs().values() for p in d.glob("*.parquet")]

    def summaries(self, oracle: check.Oracle, drop_one: bool) -> dict[str, check.Table]:
        return {
            name: oracle.summary(f"read_parquet('{d / '*.parquet'}')", self.tables[name][1],
                                 drop_one and name == self.planted)
            for name, d in self.table_dirs().items()
        }


class Load(Published):
    """``cold_load`` and ``refresh``: a release goes through
    ``run_ontology_loader`` into a parquet store, reports on.

    ``cold_load`` loads release A into an empty store on every op.
    ``refresh`` restores the store to release A before every op
    (untimed) and loads release B, a few percent away from A."""

    def __init__(self, name: str, seed: int, work: Path):
        rng = np.random.default_rng(seed)
        a = gen.make_ontology(rng, LOAD_TERMS)
        b = gen.next_release(rng, a)
        self.inputs = {"a": work / "in" / "a", "b": work / "in" / "b"}
        gen.write_ontology(a, self.inputs["a"])
        gen.write_ontology(b, self.inputs["b"])
        self.release = "a" if name == "cold_load" else "b"
        loaded = a if name == "cold_load" else b
        self.traffic = {
            "terms": len(loaded.ids),
            "edges": loaded.n_edges,
            "max_depth": loaded.max_depth(),
            "obsolete_share": round(sum(loaded.obsolete) / len(loaded.ids), 4),
        }
        if loaded is b:
            live = sum(not o for o in a.obsolete)
            self.traffic["churn_share"] = {k: round(v / live, 4) for k, v in b.churn.items()}
        self.store_root = work / "store"
        self.report_dir = work / "reports"
        self.tables = {"classes": (CLASS_T, check.CLASS_COLS),
                       "relations": (REL_T, check.REL_COLS)}
        self.planted = "relations"

    def oracle(self, oracle: check.Oracle) -> None:
        oracle.extraction(self.inputs["a"], "a")
        self.traffic["closure_pairs"] = oracle.closure_pairs()
        self.expected_warm_up = self.expected = oracle.first_load("a")
        if self.release == "b":
            oracle.extraction(self.inputs["b"], "b")
            self.traffic["closure_pairs"] = oracle.closure_pairs()
            self.expected = oracle.refresh("a", "b")
        self.traffic["expected_reports"] = self.expected.reports

    def _load(self, spark, release: str) -> None:
        d = self.inputs[release]
        OntologyLoaderController(
            spark, ONT,
            spark.read.parquet(str(d / "term_dict.parquet")),
            spark.read.parquet(str(d / "edges.parquet")),
            output_directory=str(self.report_dir),
            state_root=str(self.store_root),
        ).run_ontology_loader()

    def warm_up(self, spark) -> None:
        """Load release A into an empty store: the first op of the
        session, which pays the JVM's compile warm-up."""
        shutil.rmtree(self.store_root, ignore_errors=True)
        self._load(spark, "a")
        store = ParquetStateStore(str(self.store_root))
        self.baseline = {t: store.current_version(t) for t in (CLASS_T, REL_T)}

    def reset(self) -> None:
        """Untimed: put the store back to the state the op starts from."""
        shutil.rmtree(self.report_dir, ignore_errors=True)
        if self.release == "a":
            shutil.rmtree(self.store_root, ignore_errors=True)
        else:
            store = ParquetStateStore(str(self.store_root))
            for table, version in self.baseline.items():
                store.rollback(table, version)

    def op(self, spark) -> None:
        self._load(spark, self.release)

    def traced_op(self, spark, t: Tracer):
        """``run_ontology_loader`` with ``extract`` inlined, one span per
        layer. Returns a function that counts the layer-specific
        counters once the op is over."""
        d = self.inputs[self.release]
        store = ParquetStateStore(str(self.store_root))
        with t.span("inputs"):
            td = t.mat("inputs", spark.read.parquet(str(d / "term_dict.parquet")))
            ed = t.mat("inputs", spark.read.parquet(str(d / "edges.parquet")))
        with t.span("classes"):
            relevant = t.mat("classes", relevant_entities(td, ONT))
            classes = t.mat("classes", build_ontology_classes(td, ed, ONT))
        with t.span("closure"):
            direct = t.mat("closure", direct_relations(ed, relevant))
            closure = t.mat("closure", ancestor_closure(ed, relevant, ONT))
        with t.span("relations"):
            bag = t.mat("relations", union_relations(direct, closure))
            distinct_relations(bag)
            classes = t.mat("relations", attach_relations(classes, bag))
        with t.span("state"):
            prior_c = (t.mat("state", store.read(spark, CLASS_T)) if store.exists(CLASS_T)
                       else spark.createDataFrame([], classes.schema))
            prior_r = (t.mat("state", store.read(spark, REL_T)) if store.exists(REL_T)
                       else spark.createDataFrame([], bag.schema))
        with t.span("reconcile"):
            rec = reconcile(classes, bag, prior_c, prior_r, assume_unique_ids=True)
            for field in ("class_state", "relation_state", "class_updates_report",
                          "class_inserts_report", "relation_inserts_report"):
                setattr(rec, field, t.mat("reconcile", getattr(rec, field)))
        with t.span("state"):
            store.publish(rec.class_state, CLASS_T)
            store.publish(rec.relation_state, REL_T)
        with t.span("reports"):
            write_reports(
                [
                    Report("update", rec.class_updates_report, ONTOLOGY_CLASS_FIELDS),
                    Report("insert", rec.class_inserts_report, ONTOLOGY_CLASS_FIELDS),
                    Report("insert", rec.relation_inserts_report,
                           ["subject", "predicate", "object"]),
                ],
                str(self.report_dir),
            )

        t.outputs["state"].extend([rec.class_state, rec.relation_state])
        t.outputs["reports"].extend([rec.class_updates_report, rec.class_inserts_report,
                                     rec.relation_inserts_report])

        def counters() -> dict[str, float]:
            """Layer-specific counters, counted after the op."""
            kept = delete_obsolete_relations(prior_r, obsolete_ids(classes)).count()
            purged = prior_r.count() - kept
            new_keys = rec.relation_state.count() - kept
            changed = (rec.class_inserts_report.count() + rec.class_updates_report.count()
                       + purged + new_keys)
            compared = classes.count() + distinct_relations(bag).count()
            written = rec.class_state.count() + rec.relation_state.count()
            return {
                "closure.pairs": closure.count(),
                "reconcile.changed_frac": changed / compared,
                "state.write_amp": written / changed,
                "state.files": len(self.published_files()),
            }
        return counters

    def check(self, oracle: check.Oracle, expected: check.Expected,
              drop_one: bool = False) -> tuple[list[str], int]:
        """Mismatches of the published store and reports, and the number
        of output triples (distinct rows of the relation table)."""
        published = self.summaries(oracle, drop_one)
        reports = {
            "updates": check.count_report_rows(self.report_dir / "ontology_updates.tsv"),
            "inserts": check.count_report_rows(self.report_dir / "ontology_inserts.tsv"),
            "relation_inserts": check.count_report_rows(
                self.report_dir / "ontology_inserts_1.tsv"),
        }
        return check.compare(expected, published, reports), published["relations"].rows

    def store_bytes(self) -> int:
        return _dir_bytes(*self.table_dirs().values(), self.report_dir)


class TranscriptKG(Published):
    """``transcript_kg``: co-mention assertions and mention-ancestor
    triples over a topic-clustered corpus, published to a fresh store."""

    def __init__(self, seed: int, work: Path):
        rng = np.random.default_rng(seed)
        onto = gen.make_ontology(rng, TRANSCRIPT_TERMS)
        self.dir = work / "in" / "t"
        gen.write_ontology(onto, self.dir)
        self.mentions = gen.make_corpus(rng, onto, DICT_SURFACES, TURNS, self.dir)
        self.traffic = {"terms": len(onto.ids), "edges": onto.n_edges,
                        "max_depth": onto.max_depth(), "turns": TURNS,
                        "dictionary_surfaces": DICT_SURFACES}
        self.store_root = work / "store"
        self.tables = {"assertions": (ASSERT_T, check.ASSERTION_COLS),
                       "mention_ancestors": (ANCESTOR_T, check.ANCESTOR_COLS)}
        self.planted = "assertions"

    def oracle(self, oracle: check.Oracle) -> None:
        self.expected, traffic = oracle.transcript_kg(self.dir, self.mentions)
        self.traffic.update(traffic)
        self.traffic["mentions_per_turn"] = round(traffic["mention_rows"] / TURNS, 4)
        self.expected_warm_up = self.expected

    def _frames(self, spark):
        read = lambda name: spark.read.parquet(str(self.dir / f"{name}.parquet"))  # noqa: E731
        return read("transcripts"), read("mention_dict"), read("term_dict"), read("edges")

    def reset(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)

    def warm_up(self, spark) -> None:
        self.reset()
        self.op(spark)

    def op(self, spark) -> None:
        tr, md, td, ed = self._frames(spark)
        assertions = pipeline.transcript_assertions(spark, tr, md, td)
        triples = pipeline.mention_ancestor_triples(spark, tr, md, ed, td, ONT)
        store = ParquetStateStore(str(self.store_root))
        store.publish(assertions, ASSERT_T)
        store.publish(triples, ANCESTOR_T)

    def traced_op(self, spark, t: Tracer):
        """``transcript_assertions`` then ``mention_ancestor_triples``
        inlined, one span per layer; the join glue between layers stays
        outside every span and is reported as unattributed."""
        with t.span("inputs"):
            tr, md, td, ed = (t.mat("inputs", df) for df in self._frames(spark))
        # transcript_assertions
        with t.span("mentions"):
            mentions = t.mat("mentions", detect_mentions(spark, tr, md))
            links = t.mat("mentions", top1_links(mentions))
        with t.span("unionfind"):
            pairs = t.mat("unionfind", comention_pairs(mentions))
            nodes = mentions.select(F.col("term_id").alias("node")).distinct()
            components = t.mat("unionfind", connected_components_dict_bounded(nodes, pairs))
        with t.span("redirects"):
            redirects = t.mat("redirects", redirect_map(td))
        canonical_links = (
            links.join(F.broadcast(redirects.withColumnRenamed("src", "term_id")),
                       "term_id", "left")
            .withColumn("canon_id", F.coalesce(F.col("dst"), F.col("term_id")))
            .select("conv_id", "turn_idx", "canon_id")
        )
        assertions = canonical_links.join(
            components.withColumnRenamed("node", "canon_id"), "canon_id", "left"
        ).select(
            F.col("canon_id").alias("subject"),
            F.lit("co_mentioned_with").alias("predicate"),
            F.coalesce(F.col("component"), F.col("canon_id")).alias("object"),
        ).distinct().localCheckpoint(eager=True)
        # mention_ancestor_triples
        with t.span("mentions"):
            links2 = t.mat("mentions", top1_links(detect_mentions(spark, tr, md)))
        with t.span("classes"):
            rel = t.mat("classes", relevant_entities(td, ONT))
        with t.span("closure"):
            closure = t.mat("closure", ancestor_closure(ed, rel, ONT))
        triples = pipeline.mention_triples_from_closure(links2, closure).localCheckpoint(eager=True)
        store = ParquetStateStore(str(self.store_root))
        with t.span("state"):
            store.publish(assertions, ASSERT_T)
            store.publish(triples, ANCESTOR_T)

        t.outputs["state"].extend([assertions, triples])

        def counters() -> dict[str, float]:
            turns = tr.count()
            return {
                "closure.pairs": closure.count(),
                "state.write_amp": 1.0,  # a fresh store: every row written is new
                "state.files": len(self.published_files()),
                "mentions.py_rows_in": 2 * turns,  # both entry points detect mentions
                "mentions.per_turn": mentions.count() / turns,
                "unionfind.driver_pairs": pairs.count(),
            }
        return counters

    def check(self, oracle: check.Oracle, expected: check.Expected,
              drop_one: bool = False) -> tuple[list[str], int]:
        published = self.summaries(oracle, drop_one)
        return (check.compare(expected, published, {}),
                published["assertions"].rows + published["mention_ancestors"].rows)

    def store_bytes(self) -> int:
        return _dir_bytes(*self.table_dirs().values())


def make(name: str, seed: int, work: Path):
    if name == "transcript_kg":
        return TranscriptKG(seed, work)
    return Load(name, seed, work)

