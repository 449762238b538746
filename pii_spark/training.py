"""Training-side operators (reference S3 / A9 / O7,
training/finetune_pii_token_classification.py). The forward/backward pass
itself needs torch and stays out of scope, but everything AROUND it — the
dataset scan, the train/validation split, and the eval-metric accumulators —
is data-plane work this engine expresses Spark-first.

* S3 — dataset scan: the reference loads the chunked JSONL with HF
  ``load_dataset("json", ...)`` (finetune...py:423). ``load_training_dataset``
  is the distributed twin: schema-pinned ``spark.read.json`` over the JSONL
  emitted by ``write_training_jsonl`` (round-trips pii_spark.dataset's
  CHUNKS_SCHEMA records).
* O7 — split: the reference uses seeded ``train_test_split(test_size,
  seed)`` (finetune...py:436-444) — a shuffled permutation, which is not
  reproducible across cluster sizes. ``train_val_split`` uses a seeded
  content-hash split instead: same contract (disjoint, seeded, proportional)
  and deterministic for ANY partitioning/cluster size — the property that
  matters at 10^12 rows. md5 is the hash so the DuckDB oracle reproduces
  the exact assignment.
* A9 — training micro-F1: the reference's compute_metrics
  (finetune...py:562-587) counts token-level tp / pred-positive /
  true-positive over (pred, label) id sequences, skipping label==-100
  positions, positive == not-O. ``token_micro_f1`` runs the same counters
  as JVM array HOFs (zip_with + filter) — no Python in the hot path — with
  one tiny final reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_spark.dataset import CHUNKS_SCHEMA
from pii_spark.evaljob import prf

_HEX_SPACE = 16 ** 4  # split granularity: first 4 md5 hex chars


def write_training_jsonl(chunks: DataFrame, out_dir: str,
                         drop_errors: bool = False) -> None:
    """Training-dataset JSONL sink (one record per chunk — the file HF
    ``load_dataset("json")`` consumes in the reference).

    Quarantined rows (``error`` set: the empty placeholder
    build_chunked_dataset emits for malformed annotations) are REFUSED by
    default — the reference build hard-errors on them
    (build_finetune_jsonl.py:132-192), and silently serializing them would
    train the model on empty-text rows. Pass ``drop_errors=True`` to
    exclude them explicitly after inspection."""
    if "error" in chunks.columns:
        if drop_errors:
            chunks = chunks.where(F.col("error").isNull())
        else:
            bad = chunks.where(F.col("error").isNotNull()).limit(1).count()
            if bad:
                raise ValueError(
                    "chunks contain quarantined rows (error set); inspect "
                    "them, then re-call with drop_errors=True to exclude "
                    "them from the training file")
    chunks.write.mode("overwrite").json(out_dir)


def load_training_dataset(spark: SparkSession, path: str) -> DataFrame:
    """S3: schema-pinned scan of the chunked training JSONL. Pinning the
    schema skips Spark's sampling inference pass (one read, not two);
    FAILFAST makes drifted files raise at read time — the default
    PERMISSIVE mode would silently null out mistyped fields and feed them
    into the split/metrics pipeline."""
    return (spark.read.schema(CHUNKS_SCHEMA)
            .option("mode", "FAILFAST").json(path))


def train_val_split(
    df: DataFrame,
    val_fraction: float = 0.10,
    seed: int = 42,
    key_col: str = "doc_key",
) -> tuple[DataFrame, DataFrame]:
    """O7: seeded deterministic (train, val) split by content hash of the
    key — every row lands in exactly one side, the same side on any cluster
    size or partitioning. Rows with equal keys land on the same side
    (leak-free for grouped data like chunks of one document). A NULL key
    has no content hash and routes to TRAIN (coalesced predicate) — a bare
    null predicate would silently drop the row from BOTH sides, violating
    the exactly-one-side contract."""
    if not 0.0 <= val_fraction < 1.0:
        raise ValueError(f"val_fraction must be in [0, 1): {val_fraction}")
    is_val = F.coalesce(_val_predicate(key_col, val_fraction, seed),
                        F.lit(False))
    return df.where(~is_val), df.where(is_val)


def split_threshold_hex(val_fraction: float) -> str:
    """The split threshold as a string: lowercase hex compares
    lexicographically in value order, so `substr(md5, 1, 4) < threshold`
    selects a uniform ~val_fraction of keys with NO base conversion —
    the same expression runs verbatim on Spark and DuckDB.

    Fractions that round to the full 2^16 space return the sentinel
    ``"g"`` — 'g' sorts after every hex char in ASCII, so ``h < 'g'`` is
    true for EVERY 4-hex-char hash (keep-all). The naive ``format(65536,
    "04x")`` would be the 5-char '10000', which sorts BELOW almost all
    4-char hashes and would silently keep only ~6% of rows."""
    t = int(round(val_fraction * _HEX_SPACE))
    return "g" if t >= _HEX_SPACE else format(t, "04x")


def _val_predicate(key_col: str, val_fraction: float, seed: int) -> F.Column:
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}")))
    return F.substring(h, 1, 4) < F.lit(split_threshold_hex(val_fraction))


def micro_f1_counters(
    pred_col: str = "pred",
    label_col: str = "label",
    o_id: int = 0,
    ignore_id: int = -100,
) -> tuple[F.Column, F.Column, F.Column]:
    """Per-row (tp, pred_pos, true_pos) counter columns over id-sequence
    arrays — the reference's compute_metrics inner loop
    (finetune...py:562-587) as zip_with/filter HOFs (JVM-side). Arrays are
    truncated to the shorter length first: Python's zip() stops at the
    shorter sequence, while Spark's zip_with null-pads — padding would
    inflate true_pos whenever predictions were truncated (e.g. model
    max-length). NULL arrays coalesce to empty (a failed-inference row
    predicts nothing, so its gold tokens count as misses); a bare null
    would either crash slice() (legacy size(null) = -1) or silently drop
    the row from every counter under ANSI null semantics."""
    pred_arr = F.coalesce(F.col(pred_col),
                          F.array().cast("array<int>"))
    label_arr = F.coalesce(F.col(label_col),
                           F.array().cast("array<int>"))
    n = F.least(F.size(pred_arr), F.size(label_arr))
    pairs = F.zip_with(
        F.slice(pred_arr, F.lit(1), n),
        F.slice(label_arr, F.lit(1), n),
        lambda p, y: F.struct(p.alias("p"), y.alias("y")),
    )
    live = F.filter(pairs, lambda s: s.y != ignore_id)
    n_tp = F.size(F.filter(
        live, lambda s: (s.p != o_id) & (s.y != o_id) & (s.p == s.y)))
    n_pred = F.size(F.filter(live, lambda s: s.p != o_id))
    n_true = F.size(F.filter(live, lambda s: s.y != o_id))
    return n_tp, n_pred, n_true


def token_micro_f1(
    seqs: DataFrame,
    pred_col: str = "pred",
    label_col: str = "label",
    o_id: int = 0,
    ignore_id: int = -100,
) -> dict:
    """A9: token-classification micro-F1 over id sequences — the reference's
    compute_metrics counters (finetune...py:562-587) as array HOFs. Returns
    {tp, pred_pos, true_pos, precision, recall, f1} from ONE aggregated row.
    """
    n_tp, n_pred, n_true = micro_f1_counters(pred_col, label_col, o_id,
                                             ignore_id)
    row = seqs.agg(
        F.sum(n_tp).alias("tp"),
        F.sum(n_pred).alias("pred_pos"),
        F.sum(n_true).alias("true_pos"),
    ).collect()[0]
    tp, pp, ap = int(row.tp or 0), int(row.pred_pos or 0), int(row.true_pos or 0)
    precision, recall, f1 = prf(tp, pp, ap)
    return {"tp": tp, "pred_pos": pp, "true_pos": ap,
            "precision": precision, "recall": recall, "f1": f1}


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Partition-invariant stratified sampling: keep ~``fractions[s]`` of
    each stratum ``s``, membership decided by the row KEY's content hash —
    never by ``rand()``. ``DataFrame.sampleBy`` draws per-row randoms, so
    its output changes with row order, partitioning, and cluster size;
    for corpus curation (domain mixing weights, eval holdouts) the sample
    must be a pure function of the data. Same md5-hex-prefix idiom as
    ``train_val_split``, but SALTED with both the stratum and a "sample"
    tag: without the stratum the per-stratum decisions would be perfectly
    correlated (a key kept at 0.2 in one stratum is always kept at >= 0.2
    in every other), and without the operator tag the sample would reuse
    the exact hash range ``train_val_split`` carves its val set from —
    sampling 20% then splitting 10% val would put HALF the sample in val.
    Rows with equal (key, stratum) sample together (grouped chunks stay
    whole); the expression runs verbatim on any SQL engine for
    verification. Strata absent from ``fractions`` are dropped (sampleBy
    semantics), as are rows with a null key (no hash -> no membership —
    consistently, at any fraction)."""
    for s, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in "
                             f"[0, 1]: {frac}")
    thresholds = F.create_map(*[
        lit for s, frac in sorted(fractions.items())
        for lit in (F.lit(s), F.lit(split_threshold_hex(frac)))
    ])
    # hash the DIGESTS, not a delimiter-joined string: fixed-width md5 hex
    # makes the (key, stratum) encoding unambiguous — with '|'-joining, key
    # 'a|b'/stratum 'c' and key 'a'/stratum 'b|c' would share one hash and
    # sample in lockstep, exactly the correlation the stratum salt exists
    # to prevent. F.concat/F.md5 propagate nulls, so a null key or stratum
    # yields a null h and the row drops at any fraction (never aliases).
    h = F.substring(
        F.md5(F.concat(F.md5(F.col(key_col).cast("string")),
                       # explicit cast: md5 has no implicit INT->BINARY
                       # coercion, so a numeric strata column would fail
                       # analysis (the old concat_ws encoding coerced)
                       F.md5(F.col(strata_col).cast("string")),
                       F.lit(f"sample:{seed}"))),
        1, 4)
    thr = thresholds[F.col(strata_col)]
    return df.where(thr.isNotNull() & (h < thr))
