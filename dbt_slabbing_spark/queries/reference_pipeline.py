"""Driver-checkable registry entries for the two REFERENCE pipelines.

The reference repo's entire reason to exist is two scripts:

- ``src/generate_mapping.py`` — truth-label join: per-image screening
  lookup + ordered lesion-row fold (SURVEY.md §2.3 note (a)), engine
  re-expression in ``pipelines/mapping.py``;
- ``src/load_ground_truths.py`` — 18-option-combination grouped label
  extraction, engine re-expression in ``pipelines/ground_truths.py``.

Until round 4 these were verified only by pytest golden-replay. The two
queries here put them through the driver's DuckDB hash gate as well:
the oracle SQL states the reference semantics INDEPENDENTLY — the
ordered fold via ``arg_max(col, _line_no)`` aggregates, first-match via
``row_number() OVER (ORDER BY _line_no)``, the grouped ordered lists
via ``list(x ORDER BY _ord)`` — over parquet fixtures materialized from
the reference's own shipped inputs (the clinical CSV zip and the golden
``ea1141-mapping.json``).

Fixture freshness is pytest-enforced (test_reference_pipeline_queries):
re-materializing from ``/root/reference`` must reproduce the committed
parquet byte-for-byte at the row level.

Scale notes: the Spark side is the production pipeline itself —
broadcast joins against the (tiny by contract) clinical dimensions, one
shuffle per lesion table for the fold aggregates, one shuffle for the
grouped collect; nothing here is fixture-sized-only logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _read_parquet_file
from ..pipelines.ground_truths import GT_TYPES, SCOPES, ground_truth_labels, read_mapping
from ..pipelines.mapping import BENIGN_MARKERS, MALIGNANT_MARKERS, attach_truth_labels
from . import register

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURES_DIR = os.path.join(REPO_ROOT, "tests", "fixtures_ref")

REF_ZIP = "/root/reference/EA1141-Reviewed-Clinical-Data-and-Data-Dictionaries.zip"
REF_MAPPING = "/root/reference/ea1141-mapping.json"

_BENIGN_RE = "|".join(BENIGN_MARKERS)
_MALIGNANT_RE = "|".join(MALIGNANT_MARKERS)

#: The 18 REACHABLE option combinations (``(dbt_only=False,
#: mri_excluded=True)`` is unreachable — mri_excluded is only consulted
#: when dbt_only, load_ground_truths.py:28-34).
COMBOS = tuple(
    (scope, gt, dbt_only, mri_excluded)
    for scope in SCOPES
    for gt in GT_TYPES
    for dbt_only, mri_excluded in ((True, True), (True, False), (False, False))
)


def materialize_fixtures(spark: SparkSession) -> None:
    """(Re)write the DuckDB-oracle-side parquet fixtures from the
    reference's shipped inputs. Run once per reference change:
    ``python -m dbt_slabbing_spark.queries.reference_pipeline``."""
    from ..sources.clinical import load_clinical_tables

    os.makedirs(FIXTURES_DIR, exist_ok=True)
    for name, df in load_clinical_tables(spark, REF_ZIP).items():
        df.toPandas().to_parquet(os.path.join(FIXTURES_DIR, f"{name}.parquet"), index=False)
    records = read_mapping(spark, REF_MAPPING).select(
        "_ord", "uid", "PatientID", "StudyInstanceUID", "SeriesInstanceUID",
        "SeriesDescription", "FrameLaterality", "ImagePath", "Subject_DE",
        "DBT_BIRADS", "MRI_BIRADS", "DBT_Outcome", "MRI_Outcome",
    )
    records.toPandas().to_parquet(
        os.path.join(FIXTURES_DIR, "mapping_records.parquet"), index=False
    )


def _clinical_inputs(spark: SparkSession) -> dict[str, DataFrame]:
    """The real zip CSVs when the reference checkout is present (the
    normal case — exercises the zip source), committed fixtures else."""
    if os.path.exists(REF_ZIP):
        from ..sources.clinical import load_clinical_tables

        return load_clinical_tables(spark, REF_ZIP)
    return {
        name: _read_parquet_file(spark, os.path.join(FIXTURES_DIR, f"{name}.parquet"))
        for name in ("screening", "tomo_lesions", "mri_lesions")
    }


def _mapping_records(spark: SparkSession) -> DataFrame:
    """Golden mapping as records: JSON source when present, fixture else."""
    if os.path.exists(REF_MAPPING):
        return read_mapping(spark, REF_MAPPING)
    return _read_parquet_file(spark, os.path.join(FIXTURES_DIR, "mapping_records.parquet"))


def _fold_cte(prefix: str, table_file: str, lat_col: str, outcome_col: str) -> str:
    """Oracle-side restatement of the reference's lesion-row fold
    (src/generate_mapping.py:59-92) as per-subject aggregates: the fold's
    observable state is (row count, per-laterality match counts, last
    row's laterality, last row's outcome class) — 'last' = arg_max over
    the file-order ``_line_no``."""
    return f"""
    {prefix} AS (
        SELECT SUBJECT_DE,
               count(*) AS n_rows,
               sum(CASE WHEN {lat_col} = '1' THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN {lat_col} = '2' THEN 1 ELSE 0 END) AS n2,
               arg_max({lat_col}, _line_no) AS last_lat,
               arg_max(CASE WHEN regexp_matches({outcome_col}, '{_BENIGN_RE}') THEN 'BENIGN'
                            WHEN regexp_matches({outcome_col}, '{_MALIGNANT_RE}') THEN 'MALIGNANT'
                            ELSE 'UNKNOWN' END, _line_no) AS last_class
        FROM read_parquet('{FIXTURES_DIR}/{table_file}')
        GROUP BY SUBJECT_DE
    )"""


def _branch_sql(alias: str, birads_src: str, out_birads: str, out_outcome: str) -> str:
    """One side (DBT or MRI) of the label derivation: birads survives
    iff NO lesion row of the subject has non-matching laterality
    (:72-75,88-92); outcome = last row's class iff the last row's
    laterality matches (:63-75)."""
    match_code = "CASE i.frame_laterality WHEN 'R' THEN '1' WHEN 'L' THEN '2' END"
    n_match = (
        f"CASE i.frame_laterality WHEN 'R' THEN coalesce({alias}.n1, 0) "
        f"WHEN 'L' THEN coalesce({alias}.n2, 0) ELSE 0 END"
    )
    return f"""
       CASE WHEN coalesce({alias}.n_rows, 0) > ({n_match})
            THEN NULL ELSE {birads_src} END AS {out_birads},
       CASE WHEN coalesce({alias}.n_rows, 0) > 0
             AND {alias}.last_lat IS NOT DISTINCT FROM ({match_code})
            THEN {alias}.last_class ELSE NULL END AS {out_outcome}"""


_MAPPING_ORACLE = f"""
    WITH scr AS (
        SELECT SUBJECT_DE, TOMO_BIRADS_YR0, MRI_BIRADS_YR0
        FROM (SELECT *, row_number() OVER (PARTITION BY SUBJECT_DE ORDER BY _line_no) AS rn
              FROM read_parquet('{FIXTURES_DIR}/screening.parquet'))
        WHERE rn = 1
    ),{_fold_cte("tfold", "tomo_lesions.parquet", "TOMO_LESIONBREAST_YR0", "TOMO_LESIONOUTCOME_YR0")},{_fold_cte("mfold", "mri_lesions.parquet", "MRI_LESIONBREAST_YR0", "MRI_LESIONOUTCOME_YR0")},
    img AS (
        SELECT uid, Subject_DE AS subject_de, FrameLaterality AS frame_laterality
        FROM read_parquet('{FIXTURES_DIR}/mapping_records.parquet')
    )
    SELECT i.uid,{_branch_sql("t", "s.TOMO_BIRADS_YR0", "dbt_birads", "dbt_outcome")},{_branch_sql("m", "s.MRI_BIRADS_YR0", "mri_birads", "mri_outcome")}
    FROM img i
    LEFT JOIN scr s ON i.subject_de = s.SUBJECT_DE
    LEFT JOIN tfold t ON i.subject_de = t.SUBJECT_DE
    LEFT JOIN mfold m ON i.subject_de = m.SUBJECT_DE
"""


@register(
    "ref_mapping_truth_labels",
    _MAPPING_ORACLE,
    "the reference mapping pipeline's truth-label join "
    "(src/generate_mapping.py:37-94): screening first-row lookup + "
    "ordered lesion fold, reproduced for all 2030 golden image keys; "
    "oracle restates the fold as arg_max-over-_line_no aggregates",
    tags=("reference", "pipeline", "join", "fold"),
)
def ref_mapping_truth_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    clinical = _clinical_inputs(spark)
    images = _mapping_records(spark).select(
        "uid",
        F.col("Subject_DE").alias("subject_de"),
        F.col("FrameLaterality").alias("frame_laterality"),
    )
    labeled = attach_truth_labels(
        images, clinical["screening"], clinical["tomo_lesions"], clinical["mri_lesions"]
    )
    return labeled.select("uid", "dbt_birads", "dbt_outcome", "mri_birads", "mri_outcome")


def _combo_values_sql() -> str:
    rows = ", ".join(
        f"('{scope}', '{gt}', {str(dbt).upper()}, {str(mri).upper()})"
        for scope, gt, dbt, mri in COMBOS
    )
    return f"combos(scope, gt_type, dbt_only, mri_excluded) AS (VALUES {rows})"


_TRUTHS_ORACLE = f"""
    WITH m AS (
        SELECT _ord, uid, Subject_DE, FrameLaterality, ImagePath,
               DBT_BIRADS, MRI_BIRADS, DBT_Outcome, MRI_Outcome
        FROM read_parquet('{FIXTURES_DIR}/mapping_records.parquet')
        WHERE DBT_BIRADS IS NOT NULL AND MRI_BIRADS IS NOT NULL
    ),
    {_combo_values_sql()},
    staged AS (
        SELECT c.scope, c.gt_type, c.dbt_only, c.mri_excluded, m.*,
               TRY_CAST(CASE WHEN NOT c.dbt_only THEN greatest(m.DBT_BIRADS, m.MRI_BIRADS)
                             WHEN c.mri_excluded THEN
                                  CASE WHEN m.MRI_BIRADS > m.DBT_BIRADS THEN NULL ELSE m.DBT_BIRADS END
                             ELSE m.DBT_BIRADS END AS INT) AS gb,
               CASE WHEN m.DBT_Outcome = 'MALIGNANT' THEN 1 ELSE 0 END AS dbt01,
               CASE WHEN m.MRI_Outcome = 'MALIGNANT' THEN 1 ELSE 0 END AS mri01
        FROM combos c CROSS JOIN m
    ),
    truthed AS (
        SELECT *,
               CASE WHEN gt_type = 'acr4+' THEN CASE WHEN gb > 3 THEN 1 ELSE 0 END
                    WHEN gb < 3 THEN 0
                    WHEN (DBT_Outcome IS NULL OR DBT_Outcome = 'UNKNOWN')
                     AND (MRI_Outcome IS NULL OR MRI_Outcome = 'UNKNOWN') THEN NULL
                    ELSE CASE WHEN NOT dbt_only THEN greatest(dbt01, mri01)
                              WHEN mri_excluded THEN CASE WHEN mri01 > dbt01 THEN NULL ELSE dbt01 END
                              ELSE dbt01 END
               END AS truth01
        FROM staged WHERE gb IS NOT NULL
    ),
    keyed AS (
        SELECT scope, gt_type, dbt_only, mri_excluded, _ord, uid, truth01,
               CASE scope WHEN 'volume-wise' THEN uid
                    WHEN 'breast-wise' THEN concat_ws('_', Subject_DE, sdir, upper(FrameLaterality))
                    ELSE concat_ws('_', Subject_DE, sdir) END AS key
        FROM (SELECT *, list_extract(string_split(ImagePath, '/'),
                                     len(string_split(ImagePath, '/')) - 1) AS sdir
              FROM truthed WHERE truth01 IS NOT NULL)
    )
    SELECT scope, gt_type, dbt_only, mri_excluded, key,
           array_to_string(list(uid ORDER BY _ord), ',') AS uids,
           array_to_string(list(CAST(truth01 AS VARCHAR) ORDER BY _ord), ',') AS truth01
    FROM keyed
    GROUP BY scope, gt_type, dbt_only, mri_excluded, key
"""


@register(
    "ref_ground_truth_labels",
    _TRUTHS_ORACLE,
    "the reference ground-truth pipeline (src/load_ground_truths.py:3-81) "
    "across ALL 18 reachable option combinations: filter → mode "
    "combination → classification → scope key → ordered grouped collect; "
    "truth encoded 0=benign/1=malignant per uid (the [1,0]/[0,1] pair "
    "form is bijective to it and golden-replayed in pytest); the ordered "
    "lists are comma-serialized on BOTH sides because the driver's "
    "pandas canonicalizer cannot hash array-typed cells",
    tags=("reference", "pipeline", "agg", "collect"),
)
def ref_ground_truth_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapping = _mapping_records(spark)
    parts = []
    for scope, gt, dbt_only, mri_excluded in COMBOS:
        labels = ground_truth_labels(
            mapping, gt_type=gt, scope=scope, dbt_only=dbt_only, mri_excluded=mri_excluded
        )
        parts.append(
            labels.select(
                F.lit(scope).alias("scope"),
                F.lit(gt).alias("gt_type"),
                F.lit(dbt_only).alias("dbt_only"),
                F.lit(mri_excluded).alias("mri_excluded"),
                "key",
                # Comma-serialized: the driver canon hashes scalar cells
                # only (array cells crash pandas sort_values).
                F.array_join("uids", ",").alias("uids"),
                # [1,0]=benign / [0,1]=malignant → the malignant flag.
                F.array_join(
                    F.transform("truth", lambda t: F.element_at(t, 2)).cast("array<string>"),
                    ",",
                ).alias("truth01"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


if __name__ == "__main__":
    from ..session import get_spark

    materialize_fixtures(get_spark())
    print(f"fixtures written to {FIXTURES_DIR}")
