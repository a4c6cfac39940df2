"""W3C Direct Mapping front end (SURVEY.md §3 O3, O7, O15, O26, O30–O32).

Reference parity: ``lib/RDF/RDB2RDF/DirectMapping.pm`` introspects the DB via
DBI (``table_info`` / ``column_info`` / ``primary_key_info`` /
``foreign_key_info``) and emits the spec triples with zero configuration
(https://www.w3.org/TR/rdb-direct-mapping/).

Spark has no PK/FK catalog, so introspection is replaced by the table's
Spark schema + a **constraints manifest** (FIXTURES.md §3):

    {"books": {"pk": ["book_id"],
               "fks": [{"cols": ["author_id"], "parent": "authors",
                        "parent_cols": ["author_id"]}]}, ...}

Triple shapes (DM spec; all IRIs below IRI-safe-percent-encoded per part):
  row node      <base/Table/pk1=v1;pk2=v2>           (O30)
  type triple   row rdf:type <base/Table>            (O32)
  literal prop  row <base/Table#col> "lexical"^^xsd  (O31, natural datatypes)
  fk reference  row <base/Table#ref-c1;c2> parentRow (O15 — built from the
                child row's FK values; NO physical join needed, matching the
                reference's join-free FK emission)

No-PK tables get blank-node subjects. The reference (RDF::Trine) issues
fresh per-process labels; for cross-system P/R comparison we instead emit
deterministic labels ``t_<table>_<xxhash64(row-JSON)>`` (FIXTURES.md §5
decision). Under RDF set semantics fully-duplicate rows therefore collapse —
documented deviation, matched by the harness.

Everything compiles to the shared Mapping IR -> one executor
(:mod:`.compiler`), mirroring the reference's R2RML->Simple design.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ir import Mapping, PredicateObjectMap, TermMap, TriplesMap
from .iri import iri_safe_py
from .terms import KIND_BLANK, KIND_IRI, KIND_LITERAL, RDF_TYPE, natural_datatype


def _row_node_template(base: str, table: str, pk: list[str]) -> str:
    pairs = ";".join(f"{iri_safe_py(c)}={{{c}}}" for c in pk)
    return f"{base}{iri_safe_py(table)}/{pairs}"


def _blank_expr(table: str, columns: list[str]) -> TermMap:
    # Hash a null-discriminating JSON encoding of the whole row, NOT the raw
    # columns: Spark's hash functions skip NULL inputs (the seed passes
    # through unchanged), so xxhash64(a, b) would give ('x', NULL) and
    # (NULL, 'x') the same label and merge distinct rows. to_json with
    # ignoreNullFields=false keys every value by column name, so NULL
    # position/type always changes the encoding.
    cols = ", ".join(f"`{c}`" for c in columns)
    return TermMap(
        kind="expr",
        expr=(
            f"concat('t_{table}_', conv(cast(xxhash64(to_json(struct({cols}), "
            f"map('ignoreNullFields', 'false'))) as string), 10, 16))"
        ),
        term_type=KIND_BLANK,
    )


def direct_mapping_ir(
    schemas: dict[str, Any],
    manifest: dict[str, Any],
    base: str = "http://example.com/base/",
) -> Mapping:
    """Build the Mapping IR for a whole schema (O3 whole-schema scan).

    ``schemas``: table name -> Spark StructType (from ``spark.table(t).schema``
    — replaces DBI ``column_info``). ``manifest``: constraints per table.
    """
    m = Mapping(base=base)
    for table, schema in schemas.items():
        cons = manifest.get(table, {"pk": [], "fks": []})
        pk: list[str] = cons.get("pk", [])
        colnames = [f.name for f in schema.fields]

        if pk:
            subject = TermMap(kind="template", template=_row_node_template(base, table, pk))
        else:
            subject = _blank_expr(table, colnames)

        tm = TriplesMap(
            name=f"dm:{table}",
            table=table,
            subject=subject,
            classes=[f"{base}{iri_safe_py(table)}"],
        )

        # literal property triples, one per column (NULLs suppressed by O10)
        for f in schema.fields:
            prop = f"{base}{iri_safe_py(table)}#{iri_safe_py(f.name)}"
            tm.poms.append(
                PredicateObjectMap(
                    predicates=[TermMap.iri_constant(prop)],
                    objects=[TermMap(kind="column", column=f.name, term_type=KIND_LITERAL)],
                )
            )

        # foreign-key reference triples (O15): parent row node from the
        # child row's own FK values — join-free, like the reference.
        # Duplicate constraint entries (same child cols -> same parent) would
        # emit the same predicate IRI twice and break the distinct-by-
        # construction argument direct_map's PK fast path relies on — skip.
        seen_fks: set[tuple] = set()
        for fk in cons.get("fks", []):
            fk_key = (tuple(fk["cols"]), fk["parent"], tuple(fk.get("parent_cols", [])))
            if fk_key in seen_fks:
                continue
            seen_fks.add(fk_key)
            parent = fk["parent"]
            pcons = manifest.get(parent, {})
            ppk: list[str] = pcons.get("pk", [])
            if not ppk or list(fk.get("parent_cols", [])) != ppk:
                continue  # DM only references candidate keys; skip otherwise
            ref_iri = f"{base}{iri_safe_py(table)}#ref-" + ";".join(
                iri_safe_py(c) for c in fk["cols"]
            )
            pairs = ";".join(
                f"{iri_safe_py(pc)}={{{cc}}}" for pc, cc in zip(ppk, fk["cols"])
            )
            obj = TermMap(
                kind="template",
                template=f"{base}{iri_safe_py(parent)}/{pairs}",
            )
            tm.poms.append(
                PredicateObjectMap(
                    predicates=[TermMap.iri_constant(ref_iri)], objects=[obj]
                )
            )

        m.triples_maps[tm.name] = tm
    return m


def _dm_patterns(
    table: str,
    schema: T.StructType,
    manifest: dict[str, Any],
    base: str,
) -> tuple[TermMap, list[tuple[str, str, str | None]], list[Any]]:
    """The table's DM pattern list in unpivot form (for the unenforced-key
    compact dedup map): the subject TermMap plus, per pattern,
    (predicate IRI, object kind, object datatype) and an object-lexical
    Column that is NULL exactly when the pattern's guards fail. Term
    construction (lexical forms, IRI-safe encoding, guards) is the
    compiler's own ``compile_term``."""
    from .compiler import compile_term

    cons = manifest.get(table, {"pk": [], "fks": []})
    pk: list[str] = cons["pk"]
    subject = TermMap(kind="template", template=_row_node_template(base, table, pk))

    pats: list[tuple[str, str, str | None]] = []
    ovals: list[Any] = []

    def add(p_iri: str, o_kind: str, o_datatype: str | None, term: TermMap | None):
        if term is None:  # rdf:type — constant object, no guards of its own
            val, guards = F.lit(f"{base}{iri_safe_py(table)}"), []
        else:
            tx = compile_term(term, schema)
            val, guards = tx.value, tx.guards
        cond = None
        for g in guards:
            cond = g if cond is None else (cond & g)
        ovals.append(F.when(cond, val) if cond is not None else val)
        pats.append((p_iri, o_kind, o_datatype))

    add(RDF_TYPE, KIND_IRI, None, None)
    for f in schema.fields:
        prop = f"{base}{iri_safe_py(table)}#{iri_safe_py(f.name)}"
        add(
            prop,
            KIND_LITERAL,
            natural_datatype(f.dataType),
            TermMap(kind="column", column=f.name, term_type=KIND_LITERAL),
        )
    seen_fks: set[tuple] = set()
    for fk in cons.get("fks", []):
        fk_key = (tuple(fk["cols"]), fk["parent"], tuple(fk.get("parent_cols", [])))
        if fk_key in seen_fks:
            continue
        seen_fks.add(fk_key)
        parent = fk["parent"]
        ppk: list[str] = manifest.get(parent, {}).get("pk", [])
        if not ppk or list(fk.get("parent_cols", [])) != ppk:
            continue
        ref_iri = f"{base}{iri_safe_py(table)}#ref-" + ";".join(
            iri_safe_py(c) for c in fk["cols"]
        )
        pairs = ";".join(f"{iri_safe_py(pc)}={{{cc}}}" for pc, cc in zip(ppk, fk["cols"]))
        add(
            ref_iri,
            KIND_IRI,
            None,
            TermMap(kind="template", template=f"{base}{iri_safe_py(parent)}/{pairs}"),
        )
    return subject, pats, ovals


def _pattern_lut(vals: list[str | None]) -> Any:
    """pattern-id -> constant metadata column (predicate IRI / kind /
    datatype), as one array of literals indexed by ``__dm_pid``. The items
    are the compiler's cached literal Columns (a repeated build pays no
    per-item py4j round-trips), and no value passes through the SQL parser,
    so any base IRI survives every parser setting."""
    from .compiler import _lit, _null

    items = [_null() if v is None else _lit(v) for v in vals]
    return F.element_at(F.array(*items), F.col("__dm_pid") + 1)


def _compact_dedup_map(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    manifest: dict[str, Any],
    base: str,
) -> DataFrame:
    """Set-semantics DM for a declared-but-UNENFORCED-key table, with the
    dedup pushed BEFORE IRI construction onto narrow rows — as ONE
    single-scan unpivot with ONE dedup exchange (r8 optimization; guide
    §2.4 "remove shuffles outright").

    A DM triple of a PK-subject table is an injective function of
    (pk values, pattern, object lexical): the subject template, the lexical
    form, and IRI-safe encoding are all injective per column type. The r7
    shape exploited that with one ``distinct`` per pattern over its source
    columns — correct, but ~20 separate shuffle stages and ~20 re-scans of
    the parquet for a lineitem-shaped table (measured: the dominant cost of
    the dm_full bench). The unpivot keeps the same narrow-key insight while
    collapsing the plan:

      scan once -> inline(array(struct(pattern_id, object_lexical)))
           -> dropDuplicates(pk..., pattern_id, object_lexical)   # 1 exchange
           -> subject/predicate/datatype attached from pattern_id

    The exchange still carries native pk values + a short lexical (never a
    subject IRI), and total shuffled rows are identical to the per-pattern
    form (each pattern contributed its rows to its own shuffle before).

    Equivalence with the per-pattern ``distinct`` form (pinned by
    tests/test_direct_mapping.py against global dropDuplicates):
      - per-pattern object encodings are injective, so distinct over
        (pk, pattern, lexical) == distinct over (pk, pattern, native value);
      - float/double columns are normalized -0.0 -> 0.0 BEFORE
        lexicalization, matching how aggregation keys normalize signed
        zeros in the native-``distinct`` form;
      - NULL suppression commutes with distinct (both are per-row functions
        of the key columns): each pattern's object expr is wrapped in its
        own guards and nulled-out rows are filtered before the dedup.
    Term construction (lexical forms, IRI-safe encoding, guards) is still
    the compiler's own ``compile_term``."""
    from .compiler import compile_term

    cons = manifest.get(table, {"pk": [], "fks": []})
    pk: list[str] = cons["pk"]

    # -0.0 -> 0.0 on float/double columns: the former per-pattern native
    # ``distinct`` normalized signed zeros via aggregation-key semantics;
    # normalizing up front keeps the lexical-keyed dedup identical.
    norm_cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            zero = F.lit(0.0).cast(f.dataType)
            norm_cols.append(
                F.when(F.col(f.name) == zero, zero)
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
        else:
            norm_cols.append(F.col(f.name))
    src = df.select(*norm_cols)
    schema = src.schema

    subject, pats, ovals = _dm_patterns(table, schema, manifest, base)

    subj = compile_term(subject, schema)
    subj_cond = None
    for g in subj.guards:
        subj_cond = g if subj_cond is None else (subj_cond & g)

    arr = F.array(
        *[
            F.struct(F.lit(i).alias("__dm_pid"), v.alias("__dm_oval"))
            for i, v in enumerate(ovals)
        ]
    )
    rows = src
    if subj_cond is not None:
        rows = rows.where(subj_cond)
    # ONE exchange, BEFORE the xN pattern explosion (guide §8: move the
    # small rows once, explode after the exchange): hash-repartition the
    # source rows by pk, so the dedup's ClusteredDistribution(pk, pid,
    # oval) is already satisfied (HashPartitioning(pk) is a subset of the
    # grouping keys) and dropDuplicates adds NO further exchange. The
    # shuffle carries |rows| full-width native rows instead of
    # |rows| x |patterns| unpivoted rows — ~an order of magnitude fewer
    # bytes for a lineitem-shaped table — and the explosion + lexical
    # dedup run post-shuffle at full cluster parallelism (which also
    # fixes the 1-task scan of a small/unsplittable input).
    pk_cols = list(dict.fromkeys(pk))
    rows = rows.repartition(*[F.col(c) for c in pk_cols])
    rows = (
        rows.select(*[F.col(c) for c in pk_cols], F.inline(arr))
        .where(F.col("__dm_oval").isNotNull())
        .dropDuplicates([*pk_cols, "__dm_pid", "__dm_oval"])
    )
    return rows.select(
        F.lit(subject.term_type).alias("s_kind"),
        compile_term(subject, rows.schema).value.alias("s_value"),
        _pattern_lut([p for p, _, _ in pats]).alias("p_value"),
        _pattern_lut([k for _, k, _ in pats]).alias("o_kind"),
        F.col("__dm_oval").alias("o_value"),
        _pattern_lut([d for _, _, d in pats]).alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("g_value"),
    )


def direct_map(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    manifest: dict[str, Any],
    base: str = "http://example.com/base/",
    dedup: bool = True,
    only: list[str] | None = None,
    assume_key_integrity: bool = True,
    verify_keys: bool = False,
) -> DataFrame:
    """Direct-map a set of tables to one triples DataFrame.

    ``only`` restricts to a table subset (the reference's table filter on
    ``DirectMapping->process``).

    **PK fast path (no dedup shuffle).** With ``dedup=True`` the output must
    be a SET of triples, but for a table with a declared primary key the DM
    construction is distinct BY CONSTRUCTION — no two emitted triples can be
    equal, so ``dropDuplicates`` (a full shuffle of every 8-column triple
    row, the dominant exchange of a whole-schema map) is provably a no-op
    and is skipped:

      - subjects are unique per row (the row-node template embeds the PK);
      - within a row, every pattern carries a distinct constant predicate
        (one IRI per column, one per FK constraint — deduplicated above —
        and ``rdf:type``), each emitting at most one triple per row;
      - across tables, subject IRIs embed the (IRI-safe-encoded) table name.

    This presupposes the PK actually holds in the data — the assumption the
    reference inherits from the RDBMS enforcing the key (DirectMapping.pm
    reads via DBI). Where a declared key is NOT enforced by the source
    (e.g. a lake table carrying a logical key nothing validates — duplicate
    key rows then share a subject and duplicate triples arise wherever they
    also share a column value), mark it ``"pk_enforced": false`` in the
    manifest: the table keeps its PK-templated subjects but its slice of
    the union gets its own ``dropDuplicates``. ``assume_key_integrity=
    False`` restores the global dropDuplicates regardless of manifest
    claims. No-PK tables (deterministic row-hash blank nodes: duplicate
    rows COLLAPSE, FIXTURES.md §5) always keep the dedup shuffle — applied
    only to their slice of the union.

    **Declared keys are TRUSTED by default** — an undeclared violation (a
    manifest claiming an enforced PK the data breaks) silently emits
    duplicate triples on this fast path (ADVICE r5 #3). ``verify_keys=
    True`` is the audit mode: before compiling, every enforced-PK table
    pays one cheap aggregate (``count(*)`` vs ``count distinct`` over the
    key columns) and a violated key raises ``ValueError`` naming the table
    and the duplicate-key row count, instead of producing a non-set graph.
    Run it when ingesting manifests you did not author."""
    selected = {t: df for t, df in tables.items() if only is None or t in only}
    from .compiler import compile_mapping

    if verify_keys and dedup and assume_key_integrity:
        for t, df in selected.items():
            cons = manifest.get(t, {})
            pk = cons.get("pk")
            if not pk or not cons.get("pk_enforced", True):
                continue
            n_rows, n_keys = df.agg(
                F.count(F.lit(1)), F.count_distinct(*[F.col(c) for c in pk])
            ).first()
            if n_rows != n_keys:
                # count_distinct skips rows with ANY null key column, so
                # null-keyed rows also surface here — a null PK is a key
                # violation too
                raise ValueError(
                    f"direct_map(verify_keys=True): table {t!r} declares "
                    f"enforced pk {pk} but holds {n_rows - n_keys} duplicate-"
                    f"or-null-key rows ({n_rows} rows, {n_keys} distinct "
                    f'non-null keys); mark it "pk_enforced": false in the '
                    f"manifest or fix the data"
                )

    def _compile(sub: dict[str, DataFrame], dd: bool) -> DataFrame:
        ir = direct_mapping_ir({t: df.schema for t, df in sub.items()}, manifest, base)
        return compile_mapping(spark, ir, tables=sub, dedup=dd)

    if not (dedup and assume_key_integrity) or not selected:
        return _compile(selected, dedup)
    enforced_pk = {
        t: df
        for t, df in selected.items()
        if manifest.get(t, {}).get("pk") and manifest.get(t, {}).get("pk_enforced", True)
    }
    unenforced_pk = {
        t: df
        for t, df in selected.items()
        if t not in enforced_pk and manifest.get(t, {}).get("pk")
    }
    no_pk = {
        t: df
        for t, df in selected.items()
        if t not in enforced_pk and t not in unenforced_pk
    }
    # enforced-PK tables keep the per-pattern union compile (r8 measured
    # decision, guide §1.1): a single-scan inline unpivot was built and
    # A/B-benched against it — the unpivot halves plan-construction time
    # (~0.6s vs ~0.8s/build) but loses Catalyst's constant-folding branch
    # prune, so (a) a count/aggregate consumer must compute every object
    # lexical instead of counting filtered source rows, and (b) a
    # predicate-bound consumer scans every column instead of 2 (the
    # test_plan_audit pruning contract). Warm min-of-4 at sf0.1: per-pattern
    # 2.53s total vs unpivot 2.88s. The per-pattern form stays.
    parts = [_compile(sub, dd) for sub, dd in
             ((enforced_pk, False), (no_pk, True)) if sub]
    # unenforced-key tables: compact per-pattern dedup on narrow source
    # columns instead of a full-triple-row shuffle. One ±0.0 edge: Spark's
    # distinct normalizes -0.0 == 0.0 pre-lexicalization (one triple kept)
    # where the global form would keep both "0.0" and "-0.0" lexicals.
    parts += [
        _compact_dedup_map(spark, t, df, manifest, base)
        for t, df in unenforced_pk.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
