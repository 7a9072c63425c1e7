"""DuckDB renderings of the analyst calls.

Each function takes a call's parameters and returns DuckDB SQL over
the analyst warehouse views (``demo``, ``timevar``, ``claims``,
``icdcm``, ``condition``) and the ``ref_ccs`` grid, producing exactly
the rows the Spark call returns. The claims_elig, top_causes,
claims_summary and tabloop templates are the engine registry's oracles
for ``elig_cohort_filters``, ``top_causes_window``, ``claims_summary``
and ``tabloop_suppress``, with their fixed literals turned into
parameters and their fixture derivations replaced by the stored
warehouse tables.
"""

from __future__ import annotations


def _d(s: str) -> str:
    return f"DATE '{s}'"


def _in(values) -> str:
    return ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in values)


def claims_elig(p: dict) -> str:
    f, t = _d(p["from"]), _d(p["to"])
    sex_col = "gender_female" if p["sex"] == "female" else "gender_male"
    return f"""
WITH tv AS (
  SELECT id_mcaid AS id, from_date AS f, to_date AS t,
    CASE WHEN dual = 'Y' THEN 1 ELSE 0 END AS dual, cov_type
  FROM timevar
), ov AS (
  SELECT *,
    DATEDIFF('day', GREATEST(f, {f}), LEAST(t, {t})) + 1 AS part_days
  FROM tv WHERE f <= {t} AND t >= {f}
), flagged AS (
  SELECT id, f, t,
    CASE WHEN MAX(t) OVER (PARTITION BY id ORDER BY f, t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR DATEDIFF('day', MAX(t) OVER (PARTITION BY id ORDER BY f, t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), f) > 0
         THEN 1 ELSE 0 END AS s
  FROM ov
), grp AS (
  SELECT *, SUM(s) OVER (PARTITION BY id ORDER BY f, t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT id, MIN(f) AS f, MAX(t) AS t FROM grp GROUP BY id, island
), clipped AS (
  SELECT id, GREATEST(f, {f}) AS cf, LEAST(t, {t}) AS ct FROM islands
), gaps AS (
  SELECT id, cf, ct,
    COALESCE(
      DATEDIFF('day', LAG(ct) OVER (PARTITION BY id ORDER BY cf), cf) - 1,
      DATEDIFF('day', {f}, cf)
    ) AS gap_before
  FROM clipped
), cov AS (
  SELECT id,
    CAST(SUM(DATEDIFF('day', cf, ct) + 1) AS BIGINT) AS cov_days,
    ROUND(SUM(DATEDIFF('day', cf, ct) + 1) / {p['days']}.0 * 100, 1) AS cov_pct,
    GREATEST(MAX(gap_before),
             DATEDIFF('day', {f}, MIN(cf)),
             DATEDIFF('day', MAX(ct), {t})) AS covgap_max
  FROM gaps GROUP BY id
), dualpct AS (
  SELECT id, ROUND(SUM(part_days * dual) * 100.0 / {p['days']}, 1) AS dual_pct
  FROM ov GROUP BY id
), modal AS (
  SELECT id, cov_type FROM (
    SELECT id, cov_type,
      ROW_NUMBER() OVER (PARTITION BY id
        ORDER BY SUM(part_days) DESC, cov_type ASC) AS rk
    FROM ov GROUP BY id, cov_type
  ) WHERE rk = 1
)
SELECT cov.id AS id_mcaid, cov.cov_days, cov.cov_pct,
  CAST(cov.covgap_max AS BIGINT) AS covgap_max, dualpct.dual_pct
FROM demo d
JOIN cov ON d.id_mcaid = cov.id
JOIN dualpct ON dualpct.id = cov.id
JOIN modal ON modal.id = cov.id
WHERE d.{sex_col} = 1
  AND cov.cov_pct >= {p['cov_min']}
  AND dualpct.dual_pct >= {p['dual_min']}
  AND LOWER(modal.cov_type) IN ({_in(p['cov_type'])})
"""


def claims_condition(p: dict) -> str:
    return f"""
SELECT id_mcaid, ccw_desc,
  CAST(first_encounter_date AS VARCHAR) AS first_encounter_date,
  CAST(last_encounter_date AS VARCHAR) AS last_encounter_date
FROM condition
WHERE LOWER(ccw_desc) = '{p['condition']}'
  AND first_encounter_date <= {_d(p['to'])}
  AND last_encounter_date >= {_d(p['from'])}
"""


def top_causes(p: dict) -> str:
    f, t = _d(p["from"]), _d(p["to"])
    ev_col = "ed_pophealth_id" if p["type"] == "ed" else "inpatient_id"
    # the analyst's cohort: every member, with a 181-day window whose
    # start steps 5 days per member id
    cohort = """cohort AS (
  SELECT id_mcaid,
    DATE '1995-01-01' + CAST((id_mcaid % 400) * 5 AS INT) AS from_date,
    DATE '1995-01-01' + CAST((id_mcaid % 400) * 5 + 180 AS INT) AS to_date
  FROM demo
), """
    if p["ind_dates"]:
        cohort += f"""coh AS (
  SELECT id_mcaid AS id, GREATEST(from_date, {f}) AS f,
         LEAST(to_date, {t}) AS t
  FROM cohort WHERE NOT (to_date < {f} OR from_date > {t})
), """
        cohort_join = "JOIN coh c ON h.id_mcaid = c.id"
        cohort_pred = "AND h.first_service_date BETWEEN c.f AND c.t"
    else:
        cohort_join = ""
        cohort_pred = "AND h.id_mcaid IN (SELECT id_mcaid FROM cohort)"
    return f"""
WITH {cohort}ev AS (
  SELECT h.claim_header_id AS claim, h.{ev_col} AS ev_id
  FROM claims h {cohort_join}
  WHERE h.first_service_date BETWEEN {f} AND {t}
    AND h.primary_diagnosis IS NOT NULL
    AND h.{ev_col} IS NOT NULL
    {cohort_pred}
), dx AS (
  SELECT claim_header_id AS claim, icdcm_norm AS code, icdcm_version AS ver
  FROM icdcm WHERE icdcm_number IN ('01', 'admit')
), counted AS (
  SELECT r.ccs_detail_desc, COUNT(DISTINCT ev.ev_id) AS event_count
  FROM ev
  JOIN dx ON ev.claim = dx.claim
  JOIN ref_ccs r ON dx.code = r.icdcm AND dx.ver = r.icdcm_version
  WHERE r.ccs_catch_all IS NULL OR r.ccs_catch_all = 0
  GROUP BY r.ccs_detail_desc
)
SELECT ccs_detail_desc, CAST(event_count AS BIGINT) AS event_count,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, RANK() OVER (ORDER BY event_count DESC) AS rk FROM counted)
WHERE rk <= {p['top_n']}
"""


def elig_timevar_collapse(p: dict) -> str:
    # islands are formed within each (member, kept-values) partition,
    # exactly as the engine's collapse_islands partitions them
    cols = p["group_cols"]
    keys = ", ".join(cols)
    return f"""
WITH src AS (
  SELECT id_mcaid, from_date, to_date, {keys} FROM timevar
  WHERE id_mcaid IN ({_in(p['ids'])})
), flagged AS (
  SELECT *,
    CASE WHEN MAX(to_date) OVER (PARTITION BY id_mcaid, {keys}
           ORDER BY from_date, to_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR DATEDIFF('day', MAX(to_date) OVER (PARTITION BY id_mcaid, {keys}
           ORDER BY from_date, to_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), from_date) > 1
    THEN 1 ELSE 0 END AS s
  FROM src
), grp AS (
  SELECT *, SUM(s) OVER (PARTITION BY id_mcaid, {keys}
    ORDER BY from_date, to_date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT id_mcaid, CAST(MIN(from_date) AS VARCHAR) AS from_date,
  CAST(MAX(to_date) AS VARCHAR) AS to_date, {keys},
  DATEDIFF('day', MIN(from_date), MAX(to_date)) + 1 AS cov_time_day
FROM grp GROUP BY id_mcaid, {keys}, island
"""


def claims_summary(p: dict) -> str:
    flags = p["flags"]
    counts = ",\n    ".join(
        f"COUNT(DISTINCT CASE WHEN {c} = 1 THEN first_service_date END) AS {c}_cnt"
        for c in flags
    )
    filled = ",\n  ".join(f"COALESCE(n.{c}_cnt, 0) AS {c}_cnt" for c in flags)
    return f"""
WITH coh AS (
  SELECT id_mcaid, segment FROM demo WHERE segment IN ({_in(p['segments'])})
), counts AS (
  SELECT id_mcaid,
    {counts}
  FROM claims
  WHERE first_service_date BETWEEN {_d(p['from'])} AND {_d(p['to'])}
    AND id_mcaid IN (SELECT id_mcaid FROM coh)
  GROUP BY id_mcaid
)
SELECT c.id_mcaid, c.segment,
  {filled},
  CASE WHEN n.id_mcaid IS NULL THEN 1 ELSE 0 END AS no_claims
FROM coh c LEFT JOIN counts n ON c.id_mcaid = n.id_mcaid
"""


def tabloop(p: dict) -> str:
    pieces = "\n  UNION ALL\n  ".join(
        f"""SELECT '{v}' AS group_cat, CAST({v} AS VARCHAR) AS "group",
    COUNT(*) AS n_raw, COUNT(DISTINCT id_mcaid) AS n_cust,
    CAST(SUM(amount_dec) AS DOUBLE) AS total,
    ROUND(quantile_cont(amount, 0.5), 4) AS med_price
  FROM claims
  WHERE first_service_date BETWEEN {_d(p['from'])} AND {_d(p['to'])}
  GROUP BY {v}"""
        for v in p["loop_vars"]
    )
    return f"""
WITH stacked AS (
  {pieces}
)
SELECT group_cat, "group",
  CASE WHEN n_raw BETWEEN 1 AND {p['upper']} THEN NULL ELSE n_raw END AS n,
  n_cust, total, med_price
FROM stacked
"""


TEMPLATES = {
    "claims_elig": claims_elig,
    "claims_condition": claims_condition,
    "top_causes": top_causes,
    "elig_timevar_collapse": elig_timevar_collapse,
    "claims_summary": claims_summary,
    "tabloop": tabloop,
}
