"""Ordered regex-cascade relation extraction (SURVEY.md §2.3 F2).

The reference extracts DDI side-effects with 15 ORDERED regex patterns
carrying named groups ``se``/``mode``; the first matching pattern wins and
the loop breaks (reference: biokg/processing/parsers.py:24-45 patterns,
:47-82 mode/name alias maps, :927-977 ``__extract_side_effects`` with the
break at :976). Order sensitivity is the whole contract — a later pattern
must never fire when an earlier one matches.

Three forms of that one cascade, generated from the same pattern and map
tables and each with its own caller:

- ``ddi_side_effects``: the row kernel. The KG pipeline runs it inside
  its Arrow fact extractor (``KGPipeline._extract_facts``).
- ``ddi_effects_column``: a pure Column/JVM chain, run by the
  ``ddi_cascade_effects`` registry query.
- ``ddi_effects_sql``: the DuckDB twin, that query's oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# The FULL reference DDI side-effect cascade (reference:
# biokg/processing/parsers.py:24-45 patterns, :47-58 mode map, :60-82 name
# aliases, :927-977 __extract_side_effects). The 15 pattern strings, the
# mode-normalization map and the side-effect alias map are the reference's
# behavioral CONTRACT (like its predicate vocabulary) and are carried
# verbatim as data; the execution below is Spark-native.
#
# Semantics (first-match-wins over the ORDERED list, reference :941/:976):
#   1. anchored match (re.match) against the description;
#   2. se = group('se').lower(); mode = group('mode');
#   3. if 'activities' in se: strip every ' activities' occurrence,
#      remember to re-append '_activities' per item (:950-953, :962-963);
#   4. mode -> DDI_MODE_MAP (reference raises KeyError on unmapped modes,
#      :954 — here an unmapped mode yields no effects, documented
#      divergence for 100 TB robustness);
#   5. ', and'-lists: drop every 'and' substring then split ', ';
#      else ' and '-pairs: split ' and '; else singleton (:955-960);
#   6. sanitize each item (strip, spaces->underscores, lower, :134-135);
#   7. alias through DDI_SE_NAME_MAP, emit f'{mode}_{se}' (:965-968);
#   8. patterns 5/6 (0-based) append decrease/increase_excretion_rate
#      (:971-974).
#
# Two executions with identical output, differentially tested:
#   - ddi_side_effects(): the row kernel, run by the KG pipeline's Arrow
#     fact extractor;
#   - ddi_effects_column(): pure Column/JVM chain (whole-stage codegen),
#     run by the ddi_cascade_effects registry query.

# Each entry: (pattern with python-style named groups). The column/SQL
# forms are derived mechanically below (named groups -> numbered).
DDI_SE_PATTERNS: list[str] = [
    r"The risk or severity of (?P<se>.*) can be (?P<mode>\S+)d when .* is combined with .*",
    r".* may (?P<mode>\S+) (?P<se>\S+\s?\w*\s?\w*) of .* as a diagnostic agent.",
    r"The (?P<se>\S+\s?\w*\s?\w*) of .* can be (?P<mode>\S+)d when used in combination with .*",
    r"The (?P<se>\S+\s?\w*\s?\w*) of .* can be (?P<mode>\S+)d when it is combined with .*",
    r".* can cause a decrease in the absorption of .* resulting in a (?P<mode>\S+) (?P<se>\S+\s?\w*\s?\w*) and potentially a decrease in efficacy.",
    r".* may decrease the excretion rate of .* which could result in a (?P<mode>\S+) (?P<se>\S+\s?\w*\s?\w*).",
    r".* may increase the excretion rate of .* which could result in a (?P<mode>\S+) (?P<se>\S+\s?\w*\s?\w*) and potentially a reduction in efficacy.",
    r"The (?P<se>\S+\s?\w*\s?\w*) of .* can be (?P<mode>\S+)d when combined with .*",
    r".* can cause an increase in the absorption of .* resulting in an (?P<mode>\S+)d (?P<se>\S+\s?\w*\s?\w*) and potentially a worsening of adverse effects.",
    r"The risk of a (?P<se>\S+\s?\w*\s?\w*) to .* is (?P<mode>\S+)d when it is combined with .*",
    r"The (?P<se>\S+\s?\w*\s?\w*) of .* can be (?P<mode>\S+)d when combined with .*",
    r"The (?P<se>\S+\s?\w*\s?\w*) of the active metabolites of .* can be (?P<mode>\S+)d when .* is used in combination with .*",
    r"The (?P<se>\S+\s?\w*\s?\w*) of .*, an active metabolite of .* can be (?P<mode>\S+)d when used in combination with .*",
    r".* may (?P<mode>\S+) the (?P<se>.*) of .*",
    r".* may (?P<mode>\S+) the central nervous system depressant (?P<se>\S+\s?\S*\s?\S*) of .*",
]

DDI_MODE_NORM: dict[str, str] = {
    "reduced": "decrease",
    "increase": "increase",
    "higher": "increase",
    "decrease": "decrease",
    "reduce": "decrease",
    "lower": "decrease",
}

DDI_SE_ALIASES: dict[str, str] = {
    "central_nervous_system_depressant_(cns_depressant)_activities": "cns_depression_activities",
    "(cns_depressant)_activities": "cns_depression_activities",
    "cns_depression": "cns_depression_activities",
    "cardiotoxic_activities": "cardiotoxicity",
    "constipating_activities": "constipation",
    "excretion": "excretion_rate",
    "hyperkalemic_activities": "hyperkalemia",
    "hypertensive_activities": "hypertension",
    "qtc-prolonging_activities": "qtc_prolongation",
    "tachycardic_activities": "tachycardia",
    "hypokalemic_activities": "hypokalemia",
    "hypoglycemic_activities": "hypoglycemia",
    "hypercalcemic_activities": "hypercalcemia",
    "bradycardic_activities": "bradycardia",
    "neutropenic_activities": "neutropenia",
    "orthostatic_hypotensive_activities": "orthostatic_hypotension",
    "pseudotumor_cerebri_activities": "pseudotumor_cerebri",
    "sedative_activities": "sedation",
    "ototoxic_activities": "ototoxicity",
    "neuromuscular_blocking_activities": "neuromuscular_blockade",
    "nephrotoxic_activities": "nephrotoxicity",
    "myelosuppressive_activities": "myelosuppression",
    "hypotensive_activities": "hypotension",
    "serum_level": "serum_concentration",
}

_SE_GROUP_RE = re.compile(r"\(\?P<(se|mode)>")


def _numbered_pattern(pat: str) -> tuple[str, int, int]:
    """Named-group pattern -> (anchored numbered-group pattern, se_idx,
    mode_idx). The numbered form is valid in Java regex (Spark) and RE2
    (DuckDB) alike; '^' reproduces re.match anchoring."""
    order = _SE_GROUP_RE.findall(pat)
    se_idx = order.index("se") + 1
    mode_idx = order.index("mode") + 1
    return "^" + _SE_GROUP_RE.sub("(", pat), se_idx, mode_idx


DDI_SE_PATTERNS_NUMBERED: list[tuple[str, int, int]] = [
    _numbered_pattern(p) for p in DDI_SE_PATTERNS
]

def _sanitize_se(txt: str) -> str:
    """reference parsers.py:134-135."""
    return txt.strip().replace(" ", "_").lower()


def ddi_side_effects(desc: str | None) -> tuple[int, list[str]] | None:
    """Row kernel: (winning 0-based pattern index, ['mode_sideeffect',...])
    or None when no pattern matches / the mode is unmapped."""
    if not desc:
        return None
    for i, rx in enumerate(_ddi_compiled()):
        m = rx.match(desc)
        if m is None:
            continue
        se_name = m.group("se").lower()
        mode = m.group("mode")
        mode_name = DDI_MODE_NORM.get(mode)
        if mode_name is None:
            return None  # reference raises KeyError here (parsers.py:954)
        has_activities = "activities" in se_name
        if has_activities:
            se_name = se_name.replace(" activities", "")
        if ", and" in se_name:
            items = [_sanitize_se(s) for s in se_name.replace("and", "").split(", ")]
        elif "and" in se_name:
            items = [_sanitize_se(s) for s in se_name.split(" and ")]
        else:
            items = [_sanitize_se(se_name)]
        if has_activities:
            items = [s + "_activities" for s in items]
        effects = [
            f"{mode_name}_{DDI_SE_ALIASES.get(s, s)}" for s in items
        ]
        if i == 5:
            effects.append("decrease_excretion_rate")
        elif i == 6:
            effects.append("increase_excretion_rate")
        return i, effects
    return None


_DDI_COMPILED: list[re.Pattern] | None = None


def _ddi_compiled() -> list[re.Pattern]:
    global _DDI_COMPILED
    if _DDI_COMPILED is None:
        _DDI_COMPILED = [re.compile(p) for p in DDI_SE_PATTERNS]
    return _DDI_COMPILED


def _mode_map_col() -> Column:
    pairs = []
    for k, v in DDI_MODE_NORM.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def _alias_map_col() -> Column:
    pairs = []
    for k, v in DDI_SE_ALIASES.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def ddi_effects_column(col: Column | str) -> Column:
    """Pure-Column cascade: struct<pattern_idx:int, effects:array<string>>.

    NULL when no pattern matches or the mode is unmapped. Entirely
    JVM-side — the ``ddi_cascade_effects`` registry query runs it;
    differentially tested against ``ddi_side_effects`` row-for-row.

    Two plan-shape defenses (Catalyst inlines referenced subexpressions,
    so a naive expression tree re-evaluates the 15-pattern coalesce for
    every field access and re-evaluates the input column for every regex
    reference — measured ~40× per-row blowup when the input is itself an
    expensive expression):
    - the input and the match-struct are LET-BOUND via transform() over a
      singleton array — lambda variables evaluate their binding exactly
      once per row;
    - a literal prefilter (every pattern REQUIRES ' may ', 'combined
      with', 'combination with', 'resulting in', or a 'The risk' prefix)
      gates the regex chain: non-DDI rows cost five substring probes and
      never touch a regex — at 10^12 turns the vast majority of rows.
    """
    c = F.col(col) if isinstance(col, str) else col

    def inner(s: Column) -> Column:
        guard = (
            s.contains(" may ")
            | s.contains("combined with")
            | s.contains("combination with")
            | s.contains("resulting in")
            | s.startswith("The risk")
        )
        hit = F.coalesce(
            *[
                F.when(
                    s.rlike(pat),
                    F.struct(
                        F.lit(i).alias("idx"),
                        F.lower(F.regexp_extract(s, pat, se_idx)).alias("se"),
                        F.regexp_extract(s, pat, mode_idx).alias("mode"),
                    ),
                )
                for i, (pat, se_idx, mode_idx) in enumerate(DDI_SE_PATTERNS_NUMBERED)
            ]
        )
        return F.when(guard, F.element_at(F.transform(F.array(hit), _ddi_post), 1))

    return F.element_at(F.transform(F.array(c), inner), 1)


def _ddi_post(h: Column) -> Column:
    """Post-processing over the let-bound match struct ``h``."""
    idx = h["idx"]
    se0 = h["se"]
    has_act = se0.contains("activities")
    se = F.when(has_act, F.regexp_replace(se0, " activities", "")).otherwise(se0)
    mode_name = F.element_at(_mode_map_col(), h["mode"])

    sanitize = lambda x: F.lower(F.regexp_replace(F.trim(x), " ", "_"))  # noqa: E731
    items = (
        F.when(
            se.contains(", and"),
            F.transform(F.split(F.regexp_replace(se, "and", ""), ", "), sanitize),
        )
        .when(se.contains("and"), F.transform(F.split(se, " and "), sanitize))
        .otherwise(F.array(sanitize(se)))
    )
    items = F.when(
        has_act, F.transform(items, lambda x: F.concat(x, F.lit("_activities")))
    ).otherwise(items)
    alias_map = _alias_map_col()
    effects = F.transform(
        items,
        lambda x: F.concat(
            mode_name, F.lit("_"), F.coalesce(F.element_at(alias_map, x), x)
        ),
    )
    effects = (
        F.when(idx == 5, F.concat(effects, F.array(F.lit("decrease_excretion_rate"))))
        .when(idx == 6, F.concat(effects, F.array(F.lit("increase_excretion_rate"))))
        .otherwise(effects)
    )
    return F.when(
        h.isNotNull() & mode_name.isNotNull(),
        F.struct(idx.alias("pattern_idx"), effects.alias("effects")),
    )


def ddi_effects_sql(text_expr: str) -> str:
    """DuckDB-SQL twin of ``ddi_effects_column`` — generated from the SAME
    pattern/map tables so the oracle cannot drift from the Spark form.
    Yields a SQL expression producing struct(pattern_idx, effects) (NULL
    when no match / unmapped mode)."""

    def esc(s: str) -> str:
        return s.replace("'", "''")

    idx_expr = "CASE " + " ".join(
        f"WHEN regexp_matches({text_expr}, '{esc(pat)}') THEN {i}"
        for i, (pat, _s, _m) in enumerate(DDI_SE_PATTERNS_NUMBERED)
    ) + " END"
    se_expr = "lower(CASE " + " ".join(
        f"WHEN _idx = {i} THEN regexp_extract({text_expr}, '{esc(pat)}', {se_idx})"
        for i, (pat, se_idx, _m) in enumerate(DDI_SE_PATTERNS_NUMBERED)
    ) + " END)"
    mode_expr = "CASE " + " ".join(
        f"WHEN _idx = {i} THEN regexp_extract({text_expr}, '{esc(pat)}', {mode_idx})"
        for i, (pat, _s, mode_idx) in enumerate(DDI_SE_PATTERNS_NUMBERED)
    ) + " END"
    mode_map = "CASE _mode " + " ".join(
        f"WHEN '{esc(k)}' THEN '{esc(v)}'" for k, v in DDI_MODE_NORM.items()
    ) + " END"
    alias_case = "CASE x " + " ".join(
        f"WHEN '{esc(k)}' THEN '{esc(v)}'" for k, v in DDI_SE_ALIASES.items()
    ) + " ELSE x END"
    sanitize = "lower(replace(trim(x), ' ', '_'))"
    return f"""(
      SELECT CASE WHEN _idx IS NOT NULL AND _mode_name IS NOT NULL THEN
        struct_pack(pattern_idx := _idx, effects := _fx) END
      FROM (
        SELECT _idx, _mode_name,
          CASE WHEN _idx = 5 THEN list_append(_fx0, 'decrease_excretion_rate')
               WHEN _idx = 6 THEN list_append(_fx0, 'increase_excretion_rate')
               ELSE _fx0 END AS _fx
        FROM (
          SELECT _idx, _mode_name,
            list_transform(_items,
              x -> _mode_name || '_' || ({alias_case})) AS _fx0
          FROM (
            SELECT _idx, _mode_name,
              CASE WHEN _has_act
                   THEN list_transform(_items0, x -> x || '_activities')
                   ELSE _items0 END AS _items
            FROM (
              SELECT _idx, _mode_name, _has_act,
                CASE WHEN contains(_se, ', and')
                     THEN list_transform(string_split(replace(_se, 'and', ''), ', '), x -> {sanitize})
                     WHEN contains(_se, 'and')
                     THEN list_transform(string_split(_se, ' and '), x -> {sanitize})
                     ELSE [lower(replace(trim(_se), ' ', '_'))] END AS _items0
              FROM (
                SELECT _idx, _has_act,
                  CASE WHEN _has_act THEN replace(_se0, ' activities', '') ELSE _se0 END AS _se,
                  ({mode_map}) AS _mode_name
                FROM (
                  SELECT _idx, _se0, contains(_se0, 'activities') AS _has_act,
                         ({mode_expr}) AS _mode
                  FROM (SELECT ({idx_expr}) AS _idx) _t0,
                       LATERAL (SELECT ({se_expr}) AS _se0) _t1
                ) _t2
              ) _t3
            ) _t4
          ) _t5
        ) _t6
      ) _t7
    )"""
