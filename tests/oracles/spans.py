"""Per-token BIO span state machine: the executable spec that the
vectorized ``pii_core.spans.spans_from_bio`` is checked against, bit for
bit (tests/test_spans.py), and the span builder of the pipeline oracle
(``oracles.pipeline``)."""

from __future__ import annotations

import numpy as np

from pii_core.decoding import softmax, split_label
from pii_core.spans import Span, _sort_key


def spans_from_bio_py(
    offsets: list[tuple[int, int]],
    pred_ids: list[int],
    logits: np.ndarray,
    id2label: dict[int, str],
    conf_agg: str = "mean",
) -> list[Span]:
    """Original per-token state machine — the differential ORACLE for
    ``pii_core.spans.spans_from_bio`` (reference spans.py:138-245
    semantics)."""
    if len(offsets) != len(pred_ids):
        raise ValueError(f"offsets/pred_ids mismatch: {len(offsets)} vs {len(pred_ids)}")
    if logits.ndim != 2 or logits.shape[0] != len(pred_ids):
        raise ValueError(f"logits shape {logits.shape} != ({len(pred_ids)}, C)")
    agg = str(conf_agg).strip().lower()
    if agg not in ("mean", "min"):
        raise ValueError(f"conf_agg must be mean|min, got {conf_agg!r}")

    # label-id -> (prefix, type) computed once per call (27 entries), not per
    # token; softmax computed lazily per ENTITY token row — the overwhelmingly
    # common O rows never touch the exp path. Identical values: softmax rows
    # are independent, and fp32 row-softmax(x) == row of full softmax(x).
    meta = {int(pid): split_label(lab) for pid, lab in id2label.items()}
    lg = np.asarray(logits, dtype=np.float32)

    def _row_conf(i: int, pid: int) -> float:
        # the ONE canonical softmax (decoding.softmax): bit-stability
        # claims pin on a single implementation, and indexing its row is
        # IEEE-identical to the scalar e[pid]/e.sum() form
        return float(softmax(lg[i])[pid])

    out: list[Span] = []
    # open-span state
    o_type: str | None = None
    o_start = o_end = 0
    o_confs: list[float] = []
    run_type: str | None = None  # type of the immediately preceding entity token

    def _close() -> None:
        nonlocal o_type, o_confs
        if o_type is not None and o_confs:
            conf = min(o_confs) if agg == "min" else sum(o_confs) / len(o_confs)
            out.append(Span(o_start, o_end, o_type, float(conf), len(o_confs)))
        o_type = None
        o_confs = []

    for i, ((a, b), pid) in enumerate(zip(offsets, pred_ids)):
        pre, typ = meta.get(int(pid), ("O", None))
        if typ is None or (a == 0 and b == 0):
            if o_type is not None or run_type is not None:
                _close()
                run_type = None
            continue
        a, b = int(a), int(b)

        tok_conf = _row_conf(i, int(pid))
        opens = pre == "B" or run_type != typ
        if opens or o_type != typ:
            _close()
            o_type, o_start, o_end, o_confs = typ, a, b, [tok_conf]
        else:
            o_end = max(o_end, b)
            o_confs.append(tok_conf)
        run_type = typ

    _close()
    out.sort(key=_sort_key)
    return out
