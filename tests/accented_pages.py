"""A non-ASCII page set for the Spark tests.

``pii_spark.synth.gen_page`` writes only ASCII, so the synth corpus never
reaches the accented-Portuguese branches of payload decoding, the
tokenizer, the NER precheck or the UTF-8 byte counts. These pages are
``gen_page`` pages with words swapped for their accented spellings
(Latin-1: ç ã é ó ú), and with BMP (— €) and astral (emoji) characters
added. Every page with a body carries non-ASCII characters of each
width in its main content.
"""

from __future__ import annotations

from pii_spark.synth import gen_page

# plain -> accented, applied to the lower-case and capitalized forms
_SWAPS = {
    "informacao": "informação",
    "solicitacao": "solicitação",
    "orgao": "órgão",
    "analise": "análise",
    "decisao": "decisão",
    "cidadao": "cidadão",
    "publico": "público",
    "transparencia": "transparência",
    "endereco": "endereço",
    "numero": "número",
    "veiculo": "veículo",
    "otavio": "otávio",
    "fabio": "fábio",
    "araujo": "araújo",
    "comercio": "comércio",
    " nao ": " não ",
    "prazo": "prazo — € 10",
    "arquivo": "arquivo 📁",
    "sistema": "sistema 🙂",
}


def accented_page(i: int, seed: int) -> dict:
    """``gen_page(i, seed)`` with non-ASCII text; the url gains an
    ``/acc`` suffix so the set never collides with synth urls."""
    page = gen_page(i, seed=seed)
    html = page["html"].decode("utf-8")
    for plain, acc in _SWAPS.items():
        html = html.replace(plain, acc)
        html = html.replace(plain.capitalize(), acc.capitalize())
    # marks of each width in the main content's heading, even on pages
    # whose paragraphs hold none of the words above
    html = html.replace("</h2>", " — atenção 🙂</h2>", 1)
    return {**page, "url": page["url"] + "/acc",
            "html": html.encode("utf-8")}


def accented_pages(n: int, seed: int) -> list[dict]:
    return [accented_page(i, seed) for i in range(n)]


def accented_pages_df(spark, n: int, seed: int):
    from pii_spark.schemas import PAGES_SCHEMA  # noqa: PLC0415

    cols = [f.name for f in PAGES_SCHEMA.fields]
    return spark.createDataFrame(
        [tuple(p[c] for c in cols) for p in accented_pages(n, seed)],
        PAGES_SCHEMA)
