"""pii_core — pure, deterministic, Spark-free semantics library.

Single source of truth for the extraction semantics of the PySpark engine in
``pii_spark``: tokenization with char offsets, token-budget chunking, BIO
Viterbi decoding, span algebra (extract/filter/merge/resolve), regex PII
detectors with checksum validation, HTML main-content extraction, and the
extraction pipeline. Everything here is NumPy + stdlib only so the exact
same bytes run on the driver and on every executor (shipped via --py-files),
guaranteeing byte-identical output per url regardless of partitioning.

Behavioral contract derives from the reference implementation
(EliMCosta/pii-text-extractor-pt); each module cites the reference file:line
whose semantics it re-expresses. No reference code is copied.
"""

from pii_core.labels import (  # noqa: F401
    ENTITY_TYPES,
    NON_PII_TYPES,
    PII_TYPES,
    TYPE_PRIORITY,
    bio_label_space,
)
from pii_core.spans import Span  # noqa: F401
from pii_core.chunking import ChunkingConfigError  # noqa: F401
from pii_core.html_extract import (  # noqa: F401
    html_to_text,
    html_to_text_strict,
)
from pii_core.pdf_extract import (  # noqa: F401
    UnsupportedPdfError,
    looks_like_pdf,
    pdf_to_text,
    pdf_to_text_strict,
)
from pii_core.pipeline import ExtractConfig, extract_document, extract_page  # noqa: F401
from pii_core.redact import redact  # noqa: F401
