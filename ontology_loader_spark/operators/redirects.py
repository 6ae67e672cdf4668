"""Alt-id / obsolete-term redirect map.

The reference's data model carries obsolescence (``is_obsolete``,
``ontology_processor.py:109,141-148``) and the store-side purge
(``mongodb_loader.py:19-44``); the north rule adds the redirect map:
each obsolete term resolves to a live replacement by following
``replaced_by`` chains to a fixpoint.

Chains are short (ontology curation rarely nests redirects more than a
few hops), and the loop resolves them by pointer jumping over a tiny
table (obsolete terms only), never touching the fact tables: round k
follows 2^k hops, so a chain of length L needs O(log2 L) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def redirect_map(term_dict: DataFrame, max_iterations: int = 16) -> DataFrame:
    """(src, dst): src = obsolete term id, dst = the live end of its
    ``replaced_by`` chain.

    Each round joins the map with itself: a row whose ``dst`` is still
    a redirect source takes that source's ``dst``. The loop stays
    written out rather than on ``operators/fixpoint.py`` because a
    ``replaced_by`` cycle (a curation error) never stops changing: the
    contract pinned by ``test_redirect_map_terminates_on_cycles`` is to
    stop after ``max_iterations`` rounds with one row per source and
    its ``dst`` inside the cycle, not to raise."""
    redirect = (
        term_dict.filter(F.col("is_obsolete") & F.col("replaced_by").isNotNull())
        .select(F.col("id").alias("src"), F.col("replaced_by").alias("dst"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        stepped = (
            redirect.alias("r")
            .join(F.broadcast(redirect.alias("h")), F.col("r.dst") == F.col("h.src"))
            .select(F.col("r.src").alias("src"), F.col("h.dst").alias("dst"))
        )
        if stepped.isEmpty():
            break
        # keep only fully-resolved ends: rows whose dst is still a
        # redirect source get replaced by the stepped row
        unresolved_src = stepped.select("src").distinct()
        redirect = (
            redirect.join(unresolved_src, "src", "left_anti")
            .unionByName(stepped)
            .localCheckpoint(eager=True)
        )
    return redirect
