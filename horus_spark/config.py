"""Per-format extraction configs (the engine's equivalent of the reference's
per-format trained models, reference Horus.Functions/HorusSql.cs:38-45 model
registry + Horus.Generator/Builders/* layout semantics).

Anchor provenance:
- abc:     'our ref: {account}' + standalone dd/MM/yyyy date
           (reference Builders/ABCDocumentBuilder.cs:113,189)
- oscorp:  'Taxpoint: {date}' + bare account line in the address block
           (reference Builders/OscorpDocumentBuilder.cs:112,188)
- nouryon: 'A/C {account} INVOICE {num}' single anchor + two grid rows per
           logical line (reference Builders/NouryonDocumentBuilder.cs:129,219-241)

This table is tiny: in the pipeline it rides along as a broadcast dict,
selected per document by the doc_id's '{format}-' prefix (the reference's
rename rule, DocumentProcessor.cs:149-153).
"""

FORMAT_CONFIGS = {
    "abc": {
        "inv": r"^INVOICE (\d+)$",
        "account_prefix": "our ref: ",
        "date_standalone": r"^\d{2}/\d{2}/\d{4}$",
        "two_row_items": False,
    },
    "oscorp": {
        "inv": r"^INVOICE (\d+)$",
        "account_addr": r"^[A-Z]{6}$",
        "date_prefix": "Taxpoint: ",
        "two_row_items": False,
    },
    "nouryon": {
        "ac_inv": r"^A/C (\S+) INVOICE (\d+)$",
        "date_standalone": r"^\d{2}/\d{2}/\d{4} \d{2}:\d{2}:\d{2}$",
        "two_row_items": True,
    },
}

POSTCODE_RE = r"^(\d{5}) ([A-Z]{2})\b"

TOTALS_LABELS = [
    ("Total Price", "Total"),
    ("VAT", "VAT"),
    ("Shipping", "Shipping"),
    ("Total Due", "TotalIncVAT"),
]


def format_of_doc_id(doc_id: str) -> str:
    """'{format}-{filename}' -> format (DocumentProcessor.cs:149-153)."""
    return doc_id.split("-", 1)[0]


def line_keys(page, line_id):
    """OCR line ids -> form-field keys 'p{page}L{line_id}': the spelling
    of a media span's media_ref after its '#'. The recognize kernel keys
    the lines its fields read with it, and the fixture generator writes
    the media refs with it. Integer sequences or arrays in (NaN reads as
    missing), an Arrow string array out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def digits(v):
        return pc.cast(pa.array(v, from_pandas=True), pa.string())

    return pc.binary_join_element_wise("p", digits(page), "L", digits(line_id), "")
