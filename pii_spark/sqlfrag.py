"""Dialect-shared SQL fragments: the one definition of every deterministic
fixture the query registry builds.

The driver cross-checks every query against DuckDB. Deterministic *data
construction* (augmenting the word-soup ``documents`` table with synthetic
PII candidates) must be identical on both engines, so each fixture is
defined once here in the common Spark-SQL ∩ DuckDB dialect (||, CASE, CAST
AS STRING, lpad, substr, %, repeat). The *operators under test* (regex
detection, checksum validation, HOF span filters, windows) are then
implemented independently: DataFrame API / pandas-UDF-over-pii_core on the
Spark side, plain SQL on the DuckDB side, so the comparison genuinely
cross-validates two implementations.

A one-line fixture is a plain string constant that both sides embed
verbatim. A multi-step derivation is a ``Stages`` list: ordered
``(name, template)`` pairs whose templates refer to earlier stages as
``{name}``. Two renderers read the same list:

* ``inline`` substitutes every stage into one SQL expression — the text the
  DuckDB oracles embed (pinned byte for byte by the ORACLES digest test);
* ``staged`` adds one projection per stage to a Spark DataFrame, so each
  stage is evaluated once per row. The inlined tree repeats the base of a
  check-digit algebra in every digit reference (~100 unfolded subtrees per
  candidate) and Catalyst does not fold them; the staged chain leaves one
  (pinned by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Stages = list[tuple[str, str]]


def inline(stages: Stages) -> str:
    """The last stage as one SQL expression, every ``{name}`` replaced by
    that stage's own inlined text."""
    env: dict[str, str] = {}
    for name, template in stages:
        env[name] = template.format(**env)
    return env[name]


def staged(df: DataFrame, stages: Stages, *keep: str) -> DataFrame:
    """``df`` plus the stage columns named in ``keep`` (default: the last
    stage), each stage one projection over the columns of earlier ones.
    The other stages are temporaries (``__name``), dropped at the end."""
    keep = keep or (stages[-1][0],)
    cols: dict[str, str] = {}
    for name, template in stages:
        cols[name] = name if name in keep else f"__{name}"
        df = df.withColumn(cols[name], F.expr(template.format(**cols)))
    return df.drop(*(c for c in cols.values() if c.startswith("__")))


# --- check-digit algebras over a doc_id-derived zero-padded base ------------


def _ref(name: str) -> str:
    return "{" + name + "}"


def _check_digits(kind: str, base: str, w1: tuple, w2: tuple,
                  check: str) -> Stages:
    """Stages ``{kind}_b{n}`` (the base string of n = len(w1) digits) → one
    int per digit → check digits ``{kind}_c1``/``{kind}_c2`` (``check`` over
    a weighted digit sum ``{s}``) → ``{kind}_valid``, base plus checks."""
    b, c1, c2 = f"{kind}_b{len(w1)}", f"{kind}_c1", f"{kind}_c2"
    d = [f"{kind}_d{i}" for i in range(1, len(w1) + 1)]

    def wsum(weights):
        return " + ".join(f"{_ref(di)} * {w}" for di, w in zip(d, weights))

    return [
        (b, base),
        *[(di, f"CAST(substr({_ref(b)}, {i}, 1) AS INT)")
          for i, di in enumerate(d, 1)],
        (c1, check.format(s=wsum(w1))),
        (c2, check.format(s=f"{wsum(w2)} + {_ref(c1)} * 2")),
        (f"{kind}_valid", f"({_ref(b)} || CAST({_ref(c1)} AS STRING) || "
                          f"CAST({_ref(c2)} AS STRING))"),
    ]


# 11-digit CPF with *valid* mod-11 check digits, a pure function of doc_id.
CPF_VALID: Stages = _check_digits(
    "cpf", "lpad(CAST((doc_id * 7919) % 1000000000 AS STRING), 9, '0')",
    tuple(range(10, 1, -1)), tuple(range(11, 2, -1)),
    "(CASE WHEN (({s}) * 10) % 11 = 10 THEN 0 ELSE (({s}) * 10) % 11 END)")

# Valid CPF, except every 3rd doc gets its last digit corrupted (+5 mod 10)
# so checksum validation has real negatives.
CPF_CANDIDATE: Stages = CPF_VALID + [(
    "cpf_cand",
    "(CASE WHEN doc_id % 3 = 0 THEN substr({cpf_valid}, 1, 10) || "
    "CAST((CAST(substr({cpf_valid}, 11, 1) AS INT) + 5) % 10 AS STRING) "
    "ELSE {cpf_valid} END)")]

# 14-digit CNPJ, valid except every 4th doc (last digit +3 mod 10).
CNPJ_CANDIDATE: Stages = _check_digits(
    "cnpj",
    "lpad(CAST((doc_id * 104729) % 1000000000000 AS STRING), 12, '0')",
    (5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2), (6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3),
    "(CASE WHEN ({s}) % 11 < 2 THEN 0 ELSE 11 - (({s}) % 11) END)") + [(
    "cnpj_cand",
    "(CASE WHEN doc_id % 4 = 0 THEN substr({cnpj_valid}, 1, 13) || "
    "CAST((CAST(substr({cnpj_valid}, 14, 1) AS INT) + 3) % 10 AS STRING) "
    "ELSE {cnpj_valid} END)")]


# --- review list and augmented document text -------------------------------

# The reviewed email of a doc; the augmented text below embeds exactly this
# value, so the review joins find it.
REVIEW_EMAIL = ("'user' || CAST(doc_id AS STRING) || '@ex' || "
                "CAST(doc_id % 7 AS STRING) || '.com.br'")

# documents.text is digit-free word soup; this suffix deterministically embeds
# detector targets: always an email, phone on even ids, CEP on ids % 3 = 0,
# and the CPF candidate above (valid on 2/3 of docs).
AUG_TEXT: Stages = CPF_CANDIDATE + [
    ("aug_email", REVIEW_EMAIL.replace("'user'", "' Contato: user'", 1)),
    ("aug_phone",
     "(CASE WHEN doc_id % 2 = 0 THEN ' tel (1' || CAST(doc_id % 9 AS STRING) "
     "|| ') 9' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || '-' || "
     "lpad(CAST((doc_id * 7) % 10000 AS STRING), 4, '0') ELSE '' END)"),
    ("aug_cep",
     "(CASE WHEN doc_id % 3 = 0 THEN ' CEP ' || "
     "lpad(CAST((doc_id * 13) % 90000 + 10000 AS STRING), 5, '0') || '-' || "
     "lpad(CAST(doc_id % 1000 AS STRING), 3, '0') ELSE '' END)"),
    ("aug",
     "(text || {aug_email} || {aug_phone} || {aug_cep} || ' CPF ' || "
     "{cpf_cand} || ' fim.')"),
]


# --- one-line fixtures ------------------------------------------------------

# sanitize_values: label prefixes to strip in front of a CPF.
SANITIZE_PREFIX = """CASE WHEN doc_id % 4 = 0 THEN 'CPF: '
                  WHEN doc_id % 4 = 1 THEN 'CPF no '
                  WHEN doc_id % 4 = 2 THEN 'Documento CPF '
                  ELSE '' END"""

# validate_formats: one candidate per format, valid on a doc_id residue.
EMAIL_CAND = """CASE WHEN doc_id % 2 = 0 THEN 'user' || CAST(doc_id AS STRING) || '@ex.com'
             ELSE 'user' || CAST(doc_id AS STRING) || '@' END"""
PHONE_CAND = "CASE WHEN doc_id % 3 = 0 THEN '(11) 98765-4321' ELSE '12 34' END"
DATE_CAND = "CASE WHEN doc_id % 5 = 0 THEN '12/06/1990' ELSE '1990-06-12' END"

# company_id_migration: left context of the CNPJ candidate.
COMPANY_CTX = """CASE WHEN doc_id % 2 = 0 THEN 'a Empresa Ltda registrada sob'
                  ELSE 'o requerente informou o numero' END"""

# Deterministic redaction fixture: each doc is p1 || v1 || p2 || v2 || p3
# with spans over v1 (DOC_PESSOAL) / v2 (CONTATO) plus a non-PII
# ORG_JURIDICA span over p3's first chars on m=0 rows. The m-residues cover
# the splice edges: span at offset 0 (m=1 starts with v1), adjacent spans
# (m=2 has empty p2), span at end-of-text (m=1 ends with v2), and zero-span
# documents (m=3). ``{cpf}`` is the CPF value, ``{strtype}`` the dialect's
# string type name, ``{documents}`` the source relation.
REDACT_PARTS = """
  SELECT doc_id,
    CASE doc_id % 4 WHEN 0 THEN 'Registro publico ' WHEN 1 THEN ''
         WHEN 2 THEN 'Doc ' ELSE 'Texto sem dados pessoais aqui.' END AS p1,
    CASE WHEN doc_id % 4 = 3 THEN '' ELSE {cpf} END AS v1,
    CASE doc_id % 4 WHEN 0 THEN ' contato ' WHEN 1 THEN ' e '
         ELSE '' END AS p2,
    CASE WHEN doc_id % 4 = 3 THEN ''
         ELSE 'user' || CAST(doc_id AS {strtype}) || '@exemplo.gov.br'
    END AS v2,
    CASE doc_id % 4 WHEN 0 THEN ' orgao fim.' WHEN 2 THEN ' final'
         ELSE '' END AS p3
  FROM {documents} WHERE doc_id < 200
"""


# --- regex patterns in the Spark-Java ∩ RE2 (DuckDB) common subset ----------

EMAIL_PAT = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_PAT = r"\(\d{2}\) 9\d{3,4}-\d{4}"
# \b on both ends: without them the pattern matches a SUBSTRING of every
# synthetic phone number ("9NNNN-NNNN" contains "NNNNN-NNN"), so n_cep
# counted phones. \b is in the Spark-Java / RE2 common subset.
CEP_PAT = r"\b\d{5}-\d{3}\b"
