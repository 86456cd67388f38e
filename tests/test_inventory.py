"""Driver-t2 mirror: every registered H-checked query must hash-match its
DuckDB oracle, at sf0.001 (fast, every test run) and the full registry is
enumerated so a new operator is automatically under test the moment it
registers. This is an exact local mirror of the driver's correctness gate
(SURVEY.md §5.2.1)."""

from __future__ import annotations

import pytest

from sparkstreamingstateful_spark import registry

from .conftest import SF_UNIT, compare

QUERIES, ORACLES = registry.collect()


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_match(spark, duck, key):
    df = QUERIES[key](spark, SF_UNIT)
    compare(df, duck, ORACLES[key], name=key)


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_types_fetchdf_stable(duck, key):
    # Pure-bind lint (no Spark, no execution): every oracle's result type
    # must survive the driver's fetchdf() unchanged. HUGEINT (uncast
    # integer sum), DECIMAL (quantile/`round` on decimals), unsigned and
    # nested types all coerce to float64/object in pandas and hash-fail
    # the driver even when values match — the root cause of all 5 r2
    # FAILs. DuckDB binds types without executing, so this covers the
    # whole registry in milliseconds.
    from .conftest import _duck_kind

    rel = duck.sql(ORACLES[key])
    bad = [
        f"{c}: {t}"
        for c, t in zip(rel.columns, [str(t) for t in rel.types])
        if _duck_kind(str(t)) is None
    ]
    assert not bad, (
        f"[{key}] fetchdf-unstable oracle output type(s) {bad} — "
        "CAST the expression in the oracle's final SELECT"
    )


@pytest.mark.parametrize("key", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, key):
    df = QUERIES[key](spark, SF_UNIT)
    assert df.count() >= 0  # runs and yields a stable schema
    assert df.columns


# H-checked output schemas are guarded inside compare() (conftest
# .assert_driver_safe_schema) so each query — streaming ones included —
# executes once per suite run, serving both the hash check and the
# schema-safety check.


def test_driver_window_all_hash_checked():
    # The correctness driver checks the FIRST 50 registered keys only
    # (measured r1/r2). Every slot in that window must be an H key (an R
    # key there burns a slot on a `no_oracle` row) — except an explicit
    # allowlist of R keys deliberately spending a slot on a rows-only
    # driver row. r10: sample_seeded (rows-only BY CONSTRUCTION — no
    # cross-engine RNG equality exists) leads the staged rotation window
    # per VERDICT r9 item 2, so its only possible driver evidence (a
    # rows-only row) gets refreshed this round.
    allowed_r = {"sample_seeded"}
    keys = list(QUERIES)
    window = keys[:50]
    not_h = [k for k in window if k not in ORACLES and k not in allowed_r]
    assert not not_h, f"R keys inside the 50-key driver window: {not_h}"


def test_recursive_oracles_materialize_plain_ctes():
    # A plain CTE referenced from a RECURSIVE term is re-evaluated every
    # iteration (r13: 66 s → 2 s on the PageRank oracle; r15 found two
    # LATENT instances the sf0.01 gate never exposed — dedup_cluster_cc
    # re-ran the whole LSH pipeline per pointer-jump round, 1,277 s per
    # check at sf0.1). VERDICT r15 item 6: pin the rule structurally —
    # in any WITH RECURSIVE oracle, a CTE that is neither MATERIALIZED
    # nor self-referencing (i.e. the recursive term itself) must not be
    # referenced from inside any self-referencing CTE's body.
    import re

    def cte_defs(sql: str):
        # (name, materialized, body) for each CTE; bodies extracted by
        # paren balancing from the header's opening '('
        for m in re.finditer(r"(\w+)\s+AS\s+(MATERIALIZED\s+)?\(", sql, re.I):
            depth, i = 1, m.end()
            while depth and i < len(sql):
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            yield m.group(1), bool(m.group(2)), sql[m.end() : i - 1]

    bad = []
    for key, sql in ORACLES.items():
        if not re.search(r"WITH\s+RECURSIVE", sql, re.I):
            continue
        defs = list(cte_defs(sql))
        plain = {
            n
            for n, mat, body in defs
            if not mat and not re.search(rf"\b{n}\b", body)
        }
        for n, _, body in defs:
            if re.search(rf"\b{n}\b", body):  # the recursive term
                hit = [p for p in plain if re.search(rf"\b{p}\b", body)]
                if hit:
                    bad.append(f"{key}: recursive CTE {n} re-evaluates {hit}")
    assert not bad, (
        "plain CTEs referenced from a recursive term must be AS "
        "MATERIALIZED (CLAUDE.md rule):\n  " + "\n  ".join(bad)
    )


def test_priority_names_registered_keys():
    # _ordered() silently skips unknown priority keys (so a missing module
    # degrades to a partial inventory instead of crashing the driver);
    # typos are caught here instead.
    unknown = [k for k in registry._KEY_PRIORITY if k not in QUERIES]
    assert not unknown, f"_KEY_PRIORITY names unregistered keys: {unknown}"
    assert len(set(registry._KEY_PRIORITY)) == len(registry._KEY_PRIORITY)


def test_survey_totals():
    # SURVEY.md §2's prose inventory totals must equal the registry —
    # the r3 verdict caught the prose drifting (said 124, registry had
    # 126); this pins the CURRENT round's declared line to reality.
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    decls = re.findall(
        r"Inventory totals \(r(\d+)\): (\d+) H-checked query keys \+ "
        r"(\d+) rows-only \(R\) = (\d+)\s*\nregistered keys",
        text,
    )
    assert decls, "SURVEY.md inventory-totals line missing or reformatted"
    _, h, r, total = max(decls, key=lambda d: int(d[0]))  # latest round
    assert int(h) == len(ORACLES), f"SURVEY says {h} H keys, registry has {len(ORACLES)}"
    assert int(total) == len(QUERIES), (
        f"SURVEY says {total} keys, registry has {len(QUERIES)}"
    )
    assert int(r) == len(QUERIES) - len(ORACLES)

    # §2 must enumerate the registry by exact name (VERDICT r12's
    # greppability item: 24 keys were findable only in the §8 appendix
    # tables) — every registered key appears as `key` inside §2 itself.
    sec2 = text[text.index("## §2. Operator inventory"):text.index("## §3")]
    not_greppable = [k for k in QUERIES if f"`{k}`" not in sec2]
    assert not not_greppable, (
        f"registered keys missing from SURVEY §2 by exact name: {not_greppable}"
    )

    # README.md and CLAUDE.md quote the same counts in prose — the r11
    # verdict caught both still saying 208/207 two rounds after the
    # registry hit 226; pin them here so the drift class can't recur.
    for doc in ("README.md", "CLAUDE.md"):
        dtext = Path(__file__).resolve().parent.parent.joinpath(doc).read_text()
        m = re.search(r"(\d+) registered query keys \((\d+) ", dtext)
        assert m, f"{doc} key-count line missing or reformatted"
        assert int(m.group(1)) == len(QUERIES), (
            f"{doc} says {m.group(1)} keys, registry has {len(QUERIES)}"
        )
        assert int(m.group(2)) == len(ORACLES), (
            f"{doc} says {m.group(2)} checked, registry has {len(ORACLES)}"
        )


def test_sql_view_cache_tracks_dir_after_pipe_syntax(spark, duck):
    """ADVICE r6 regression: sql_pipe_syntax / sql_parameterized used to
    call register_views directly, bypassing the _views per-session cache —
    after running one of them at dir B, a later _sql_query key at dir A
    saw a stale cache entry and silently ran against B's tables. The
    sequence A → (pipe syntax at B) → A must still match A's oracle."""
    from .conftest import SF_T2

    QUERIES["subquery_scalar"](spark, SF_UNIT).count()  # cache ← A
    QUERIES["sql_pipe_syntax"](spark, SF_T2).count()  # must move cache → B
    compare(
        QUERIES["subquery_scalar"](spark, SF_UNIT),
        duck,
        ORACLES["subquery_scalar"],
        name="subquery_scalar-after-dir-flip",
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_frozen_baseline_keys_still_registered():
    # bench.py's frozen96_s (the registry-size-independent BASELINE
    # comparison, VERDICT r15 item 3) sums timings.get(k, 0) over
    # scripts/baseline_r1_keys.json — a key rename would silently zero
    # its contribution and flatter the subset total. Every frozen key
    # must stay registered under its r1 name.
    import json
    from pathlib import Path

    frozen = json.loads(
        Path(__file__).resolve().parent.parent.joinpath(
            "scripts", "baseline_r1_keys.json"
        ).read_text()
    )
    assert len(frozen) == 96 and len(set(frozen)) == 96
    missing = [k for k in frozen if k not in QUERIES]
    assert not missing, f"frozen baseline keys missing from registry: {missing}"


def test_driver_window_is_r19_rotation():
    # The r19 evidence window, key-for-key (the rotation the r18 build
    # session staged in _KEY_PRIORITY and r19 executed): the 5
    # r12-evidence keys that did not fit the r18 window, then 45 of the
    # r13 cohort. Pinned as a literal so an accidental registry reorder
    # (or a module import dropping a key) cannot silently burn driver
    # slots before the round's CORRECTNESS artifact lands. Update
    # alongside _KEY_PRIORITY each rotation.
    expected = [
        "stat_sample_by",
        "text_gopher_quality",
        "text_repetition_ngram",
        "udtf_arrow",
        "write_dynamic_partition_overwrite",
        "agg_approx",
        "seq_packing",
        "text_edit_distance",
        "stateful_sessionize_tws",
        "stream_dedup_watermarked",
        "stream_stream_join_left",
        "stream_topk_per_window",
        "stream_window_chained",
        "agg_bitmap_distinct",
        "agg_grouping_id",
        "array_edit_ops",
        "array_explode_outer",
        "cluster_kmeans_fixed",
        "dedup_containment",
        "dq_expectations",
        "embed_ann_recall",
        "embed_pq_adc_topk",
        "embed_pq_codes",
        "events_downsample_lttb",
        "events_ewma_smooth",
        "events_holt_linear",
        "frame_transpose",
        "graph_triangle_count",
        "join_null_safe",
        "json_construct",
        "multimodal_decode_jpeg",
        "multimodal_decode_png",
        "multimodal_decode_wav",
        "scalar_interval",
        "scalar_regexp",
        "scalar_str_to_map",
        "scalar_string_multi",
        "scan_recursive_glob",
        "set_union_by_name_missing",
        "sql_join_hints",
        "sql_lateral_alias",
        "sql_order_by_all_offset",
        "sql_select_except",
        "sql_unpivot_clause",
        "stat_cov_corr",
        "stream_holt_linear",
        "stream_merge_to_table",
        "text_classifier_score",
        "text_url_filter",
        "udtf_table_arg",
    ]
    assert list(QUERIES)[:50] == expected


def test_only_the_runner_starts_streams():
    """Every stream goes through streaming/runner.py: no other module of
    the package may touch ``.writeStream`` or ``.awaitTermination``.
    Checked on the AST, because docstrings mention writeStream."""
    import ast
    import pathlib

    import sparkstreamingstateful_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    runner = root / "streaming" / "runner.py"
    hits = [
        f"{path.relative_to(root)}:{node.lineno} .{node.attr}"
        for path in sorted(root.rglob("*.py"))
        if path != runner
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute)
        and node.attr in ("writeStream", "awaitTermination")
    ]
    assert not hits, f"streams started outside streaming/runner.py: {hits}"


def test_only_the_catalog_builds_cache_paths():
    """Every content-keyed cache takes its path from ``catalog.cache_dir``:
    no other module of the package may call ``gettempdir``. Checked on
    the AST, because docstrings mention it."""
    import ast
    import pathlib

    import sparkstreamingstateful_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    catalog = root / "catalog.py"
    hits = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != catalog
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Attribute) and node.attr == "gettempdir")
        or (isinstance(node, ast.Name) and node.id == "gettempdir")
        or (
            isinstance(node, ast.ImportFrom)
            and any(a.name == "gettempdir" for a in node.names)
        )
    ]
    assert not hits, f"gettempdir outside catalog.py: {hits}"
