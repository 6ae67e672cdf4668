"""Output checks against independent DuckDB oracles.

The ontology side reuses the repository's oracle CTEs
(``ontology_loader_spark/oracle.py``: relevant ids, hierarchy edges,
recursive reach, classes, direct / closure / distinct relations) over
DuckDB views of the generated parquet. The reconcile and transcript
expectations are restated here in SQL from the reference semantics and
share no code with the Spark operators.

A published table matches when its row count and an order-independent
hash (the sum of DuckDB's ``hash`` over every row) equal the oracle's.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from ontology_loader_spark import oracle as O

CLASS_COLS = "id, type, alternative_names, definition, relations, is_root, is_obsolete, name"
REL_COLS = "subject, predicate, object, type"
ASSERTION_COLS = "subject, predicate, object"
ANCESTOR_COLS = "conv_id, turn_idx, term_id, ancestor"

EXTRACTION_CTES = (
    O.RELEVANT_CTE, O.HEDGES_CTE, O.REACH_CTE, O.CLASSES_CTE,
    O.DIRECT_REL_CTE, O.CLOSURE_REL_CTE, O.ALL_REL_CTE, O.DISTINCT_REL_CTE,
)


def _with(*ctes: str) -> str:
    return "WITH RECURSIVE " + ",\n".join(c.strip() for c in ctes) + "\n"


@dataclass
class Table:
    """Row count and order-independent hash of one table."""

    rows: int
    digest: int


@dataclass
class Expected:
    tables: dict[str, Table]
    reports: dict[str, int] = field(default_factory=dict)


class Oracle:
    def __init__(self, tmp: Path):
        tmp.mkdir(parents=True, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(
            f"SET threads = 2; SET memory_limit = '1GB'; SET temp_directory = '{tmp}'"
        )

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def summary(self, source: str, cols: str, drop_one: bool = False) -> Table:
        """Count and hash of ``source`` (a table name or a
        ``read_parquet`` call). ``drop_one`` leaves one row out: the
        planted defect that the check must catch."""
        src = f"(SELECT * FROM {source} OFFSET 1)" if drop_one else source
        n, digest = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {src}"
        ).fetchone()
        return Table(int(n), int(digest))

    def _views(self, directory: Path) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW term_dict AS SELECT *, "
            f"alternative_names AS alt_names_str "
            f"FROM read_parquet('{directory / 'term_dict.parquet'}')"
        )
        self.con.execute(
            f"CREATE OR REPLACE VIEW edges AS "
            f"SELECT * FROM read_parquet('{directory / 'edges.parquet'}')"
        )

    def extraction(self, directory: Path, prefix: str) -> None:
        """Tables ``<prefix>_classes`` (with sorted relation arrays),
        ``<prefix>_rel`` (distinct relations) and the bag size
        ``<prefix>_bag`` of one release, as a first load produces them."""
        self._views(directory)
        w = _with(*EXTRACTION_CTES)
        self.con.execute(f"""
CREATE OR REPLACE TABLE {prefix}_rel AS {w} SELECT * FROM distinct_rel""")
        self.con.execute(f"""
CREATE OR REPLACE TABLE {prefix}_bag AS {w} SELECT count(*) AS n FROM all_rel""")
        self.con.execute(f"""
CREATE OR REPLACE TABLE {prefix}_classes AS {w}
SELECT c.id, c.type, c.alt_names_str AS alternative_names, c.definition,
       coalesce(r.relations, []) AS relations, c.is_root, c.is_obsolete, c.name
FROM classes c LEFT JOIN (
  SELECT subject,
         list({{'subject': subject, 'predicate': predicate,
               'object': object, 'type': type}}
              ORDER BY subject, predicate, object, type) AS relations
  FROM distinct_rel GROUP BY subject
) r ON r.subject = c.id""")

    def first_load(self, prefix: str) -> Expected:
        """A load into an empty store: every class is an insert."""
        return Expected(
            tables={
                "classes": self.summary(f"{prefix}_classes", CLASS_COLS),
                "relations": self.summary(f"{prefix}_rel", REL_COLS),
            },
            reports={
                "updates": 0,
                "inserts": self.scalar(f"SELECT count(*) FROM {prefix}_classes"),
                "relation_inserts": self.scalar(f"SELECT n FROM {prefix}_bag"),
            },
        )

    def refresh(self, prior: str, incoming: str) -> Expected:
        """Reconcile ``incoming`` against a store holding ``prior``: M1
        flags obsolete ids and purges relations that touch them, M2
        replaces changed or new classes, M3 upserts relations."""
        self.con.execute(f"""
CREATE OR REPLACE TABLE obs AS SELECT id FROM {incoming}_classes WHERE is_obsolete;
CREATE OR REPLACE TABLE post_m1 AS
SELECT p.id, p.type, p.alternative_names, p.definition,
       CASE WHEN o.id IS NULL THEN p.relations ELSE [] END AS relations,
       p.is_root, p.is_obsolete OR o.id IS NOT NULL AS is_obsolete, p.name
FROM {prior}_classes p LEFT JOIN obs o ON o.id = p.id;
CREATE OR REPLACE TABLE refresh_classes AS
SELECT * FROM post_m1 WHERE id NOT IN (SELECT id FROM {incoming}_classes)
UNION ALL SELECT * FROM {incoming}_classes;
CREATE OR REPLACE TABLE refresh_rel AS
SELECT * FROM {incoming}_rel
UNION ALL
SELECT p.* FROM {prior}_rel p
WHERE p.subject NOT IN (SELECT id FROM obs)
  AND p.object NOT IN (SELECT id FROM obs)
  AND NOT EXISTS (SELECT 1 FROM {incoming}_rel i
                  WHERE i.subject = p.subject AND i.predicate = p.predicate
                    AND i.object = p.object)""")
        updates = self.scalar(f"""
SELECT count(*) FROM {incoming}_classes i JOIN post_m1 p ON p.id = i.id
WHERE i.type IS DISTINCT FROM p.type
   OR i.alternative_names IS DISTINCT FROM p.alternative_names
   OR i.definition IS DISTINCT FROM p.definition
   OR i.relations IS DISTINCT FROM p.relations
   OR i.is_root IS DISTINCT FROM p.is_root
   OR i.is_obsolete IS DISTINCT FROM p.is_obsolete
   OR i.name IS DISTINCT FROM p.name""")
        inserts = self.scalar(f"""
SELECT count(*) FROM {incoming}_classes
WHERE id NOT IN (SELECT id FROM {prior}_classes)""")
        return Expected(
            tables={
                "classes": self.summary("refresh_classes", CLASS_COLS),
                "relations": self.summary("refresh_rel", REL_COLS),
            },
            reports={
                "updates": updates,
                "inserts": inserts,
                "relation_inserts": self.scalar(f"SELECT n FROM {incoming}_bag"),
            },
        )

    def transcript_kg(self, directory: Path, mentions) -> tuple[Expected, dict]:
        """Expected co-mention assertions and mention-ancestor triples.

        ``mentions`` is the distinct (conv_id, turn_idx, term_id,
        surface) set the generator placed; the generator guarantees it
        equals the dictionary's substring matches."""
        self._views(directory)
        self.con.register("mentions_df", mentions)
        self.con.execute("""
CREATE OR REPLACE TABLE mentions AS
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, term_id, surface FROM mentions_df;
CREATE OR REPLACE TABLE links AS
SELECT conv_id, turn_idx, term_id FROM (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY length(surface) DESC, term_id) AS rnk
  FROM mentions) WHERE rnk = 1;
CREATE OR REPLACE TABLE pairs AS
SELECT DISTINCT a.term_id AS u, b.term_id AS v
FROM mentions a JOIN mentions b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx AND a.term_id <> b.term_id;
CREATE OR REPLACE TABLE components AS
WITH RECURSIVE cc(node, reach) AS (
  SELECT DISTINCT term_id, term_id FROM mentions
  UNION
  SELECT c.node, p.v FROM cc c JOIN pairs p ON c.reach = p.u
) SELECT node, min(reach) AS component FROM cc GROUP BY node;
CREATE OR REPLACE TABLE redirects AS
WITH RECURSIVE redirect(src, dst) AS (
  SELECT id, replaced_by FROM term_dict WHERE is_obsolete AND replaced_by IS NOT NULL
  UNION
  SELECT r.src, t.replaced_by FROM redirect r JOIN term_dict t
    ON r.dst = t.id AND t.is_obsolete AND t.replaced_by IS NOT NULL
) SELECT src, dst FROM redirect r
  WHERE NOT EXISTS (SELECT 1 FROM term_dict t WHERE t.id = r.dst
                    AND t.is_obsolete AND t.replaced_by IS NOT NULL);
CREATE OR REPLACE TABLE assertions AS
SELECT DISTINCT l.canon_id AS subject, 'co_mentioned_with' AS predicate,
       coalesce(c.component, l.canon_id) AS object
FROM (SELECT coalesce(r.dst, l.term_id) AS canon_id
      FROM links l LEFT JOIN redirects r ON r.src = l.term_id) l
LEFT JOIN components c ON c.node = l.canon_id""")
        self.con.execute(f"""
CREATE OR REPLACE TABLE ancestors AS {_with(O.RELEVANT_CTE, O.HEDGES_CTE, O.REACH_CTE)}
SELECT l.conv_id, l.turn_idx, l.term_id, r.o AS ancestor
FROM links l JOIN reach r ON r.s = l.term_id
WHERE {O.F1_O}""")
        self.con.unregister("mentions_df")
        traffic = {
            "closure_pairs": self.closure_pairs(),
            "mention_rows": self.scalar("SELECT count(*) FROM mentions"),
            "linked_turns": self.scalar("SELECT count(*) FROM links"),
            "comention_pairs": self.scalar("SELECT count(*) FROM pairs") // 2,
            "components": self.scalar("SELECT count(DISTINCT component) FROM components"),
            "redirected_links": self.scalar(
                "SELECT count(*) FROM links JOIN redirects ON src = term_id"),
        }
        expected = Expected(tables={
            "assertions": self.summary("assertions", ASSERTION_COLS),
            "mention_ancestors": self.summary("ancestors", ANCESTOR_COLS),
        })
        return expected, traffic

    def closure_pairs(self) -> int:
        """Closure rows of the release behind the current views."""
        return self.scalar(
            f"{_with(O.RELEVANT_CTE, O.HEDGES_CTE, O.REACH_CTE)} "
            f"SELECT count(*) FROM reach WHERE {O.F1_O}"
        )


def count_report_rows(path: Path) -> int:
    """Data rows of a single-file TSV report (header excluded)."""
    with path.open("rb") as f:
        return max(sum(1 for _ in f) - 1, 0)


def compare(expected: Expected, published: dict[str, Table],
            reports: dict[str, int]) -> list[str]:
    """Human-readable mismatches; empty when the op's output is right."""
    problems = [
        f"{name}: rows {published[name].rows} vs {want.rows}"
        f"{'' if published[name].digest == want.digest else ', hash differs'}"
        for name, want in expected.tables.items()
        if published[name] != want
    ]
    problems += [
        f"report {name}: {reports.get(name)} rows vs {want}"
        for name, want in expected.reports.items()
        if reports.get(name) != want
    ]
    return problems
