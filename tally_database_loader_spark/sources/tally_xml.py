"""Tally XML source (SURVEY §2.A1-A3, A7): TDL request compiler, runtime
parameter substitution, and a distributed reader for Tally's TDL response
XML.

The reference extracts by POSTing a compiled TDL-XML program to Tally's
HTTP server (reference src/tally.mts:448-490), then rewrites the response
text into TSV with 14 sequential regex passes (src/tally.mts:514-539).
Spark-first equivalents:

- ``generate_tdl_xml``  — same YAML-spec → TDL program compilation
  (reference src/tally.mts:614-718): one PART/LINE pair per nesting level
  of the collection path, per-type ``<SET>`` encodings, ``<FETCH>`` column
  pruning, ``<FILTER>`` formulae. Produced so users can still drive a live
  Tally; the HTTP POST itself stays a driver-side concern (a single
  request, not data-parallel work).
- ``substitute_parameters`` — ``{fromDate}`` / ``{toDate}`` /
  ``{targetCompany}`` substitution with the reference's formatting rules
  (src/tally.mts:492-512): dates ``d-MMM-yyyy``, booleans Yes/No, strings
  HTML-escaped.
- ``read_tdl_response`` — the D1 rewrite pipeline as a *distributed Column
  program*: the response is read with ``lineSep='<F01>'`` so Spark splits
  the file into one record per row **at read time** (no whole-file
  buffering, unlike the reference's single in-memory string), then end-tag
  stripping / field splitting / entity unescaping / typed decoding all run
  as JVM-side expressions inside whole-stage codegen. A 100 GB dump parses
  partition-parallel.

Typed decoding (SURVEY §2.D5, reference src/database.mts:81-119): the
ñ sentinel (char 241, emitted for empty dates by the TDL date encoding at
src/tally.mts:665-666) decodes to NULL; logical arrives 0/1; amounts/
quantities carry their sign conventions already applied at the source.
"""

from __future__ import annotations

import datetime
import html
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import TableSpec

_NULL_DATE = "ñ"  # ñ — reference $$StrByCharCode:241

# per-type SET expression the TDL program evaluates inside Tally
# (reference src/tally.mts:660-676); kept data-identical so dumps produced
# by either tool interchange.
_SET_BY_TYPE = {
    "text": "$%s",
    "logical": "if $%s then 1 else 0",
    "date": 'if $$IsEmpty:$%s then $$StrByCharCode:241'
            ' else $$PyrlYYYYMMDDFormat:$%s:"-"',
    "number": 'if $$IsEmpty:$%s then "0" else $$String:$%s',
    "amount": '$$StringFindAndReplace:(if $$IsDebit:$%s then'
              ' -$$NumValue:$%s else $$NumValue:$%s):"(-)":"-"',
    "quantity": '$$StringFindAndReplace:(if $$IsInwards:$%s then'
                ' $$Number:$$String:$%s:"TailUnits" else'
                ' -$$Number:$$String:$%s:"TailUnits"):"(-)":"-"',
    "rate": 'if $$IsEmpty:$%s then 0 else $$Number:$%s',
}

_SIMPLE_FIELD = re.compile(r"^(\.\.)?[a-zA-Z0-9_]+$")


def generate_tdl_xml(spec: TableSpec, company: str | None = None) -> str:
    """Compile a ``TableSpec`` into the TDL REPORT/FORM/PART/LINE/FIELD/
    COLLECTION request program (A2). Nesting levels of ``spec.collection``
    become chained PART→LINE→EXPLODE pairs; the innermost LINE carries the
    field list."""
    routes = spec.collection.split(".")
    root, nested = routes[0], routes[1:]
    levels = ["MyCollection", *nested]

    head = (
        '<?xml version="1.0" encoding="utf-8"?><ENVELOPE><HEADER>'
        "<VERSION>1</VERSION><TALLYREQUEST>Export</TALLYREQUEST>"
        "<TYPE>Data</TYPE><ID>TallySparkExport</ID></HEADER><BODY><DESC>"
        "<STATICVARIABLES>"
        "<SVEXPORTFORMAT>XML (Data Interchange)</SVEXPORTFORMAT>"
        "<SVFROMDATE>{fromDate}</SVFROMDATE><SVTODATE>{toDate}</SVTODATE>"
    )
    if company is not None:
        head += ("<SVCURRENTCOMPANY>"
                 + html.escape(company, quote=True) + "</SVCURRENTCOMPANY>")
    head += ("</STATICVARIABLES><TDL><TDLMESSAGE>"
             '<REPORT NAME="TallySparkExport"><FORMS>MyForm</FORMS></REPORT>'
             '<FORM NAME="MyForm"><PARTS>MyPart01</PARTS></FORM>')

    parts = []
    for i, route in enumerate(levels, start=1):
        parts.append(f'<PART NAME="MyPart{i:02d}"><LINES>MyLine{i:02d}</LINES>'
                     f"<REPEAT>MyLine{i:02d} : {route}</REPEAT>"
                     "<SCROLLED>Vertical</SCROLLED></PART>")
    lines = []
    for i in range(1, len(levels)):  # outer levels explode into the next part
        lines.append(f'<LINE NAME="MyLine{i:02d}"><FIELDS>FldBlank</FIELDS>'
                     f"<EXPLODE>MyPart{i + 1:02d}</EXPLODE></LINE>")

    fld_names = ",".join(f"Fld{i:02d}" for i in range(1, len(spec.fields) + 1))
    lines.append(f'<LINE NAME="MyLine{len(levels):02d}">'
                 f"<FIELDS>{fld_names}</FIELDS></LINE>")

    fields = []
    for i, f in enumerate(spec.fields, start=1):
        if _SIMPLE_FIELD.match(f.expr.lstrip("$")) and f.expr.startswith("$") \
                and f.type in _SET_BY_TYPE:
            name = f.expr.lstrip("$")
            set_expr = _SET_BY_TYPE[f.type].replace("%s", name)
        else:
            set_expr = f.expr  # custom / complex: passed through verbatim
        fields.append(f'<FIELD NAME="Fld{i:02d}"><SET>{set_expr}</SET>'
                      f"<XMLTAG>F{i:02d}</XMLTAG></FIELD>")
    fields.append('<FIELD NAME="FldBlank"><SET>""</SET></FIELD>')

    coll = [f'<COLLECTION NAME="MyCollection"><TYPE>{root}</TYPE>']
    if spec.fetch:
        coll.append(f"<FETCH>{','.join(spec.fetch)}</FETCH>")
    if spec.filters:
        flt_names = ",".join(f"Fltr{j:02d}"
                             for j in range(1, len(spec.filters) + 1))
        coll.append(f"<FILTER>{flt_names}</FILTER>")
    coll.append("</COLLECTION>")
    for j, flt in enumerate(spec.filters, start=1):
        # XML-escape the formula CONTENT: comparison filters carry bare
        # '<' / '<=' (the C8 dynamic `$AlterId <= N`, user less-thans),
        # which is ill-formed inside an element — a conforming parser
        # rejects the whole request. Tally's XML layer decodes the
        # entities back before evaluating the formula.
        esc = (flt.replace("&", "&amp;").replace("<", "&lt;")
                  .replace(">", "&gt;"))
        coll.append(f'<SYSTEM TYPE="Formulae" NAME="Fltr{j:02d}">{esc}</SYSTEM>')

    return (head + "".join(parts) + "".join(lines) + "".join(fields)
            + "".join(coll) + "</TDLMESSAGE></TDL></DESC></BODY></ENVELOPE>")


def substitute_parameters(xml: str, subs: dict) -> str:
    """Runtime parameter substitution (A3): replace ``{key}`` placeholders
    with per-type formatted values (reference src/tally.mts:492-512)."""
    out = xml
    for key, val in subs.items():
        if isinstance(val, bool):
            rep = "Yes" if val else "No"
        elif isinstance(val, (datetime.date, datetime.datetime)):
            rep = val.strftime("%-d-%b-%Y")
        elif isinstance(val, (int, float)):
            rep = str(val)
        else:
            rep = html.escape(str(val), quote=True)
        out = out.replace("{" + key + "}", rep)
    return out


def _decode(col: Column, ftype: str) -> Column:
    """Typed decode of one TSV-stage text field (D5)."""
    if ftype == "date":
        return F.when(col == _NULL_DATE, F.lit(None)).otherwise(col) \
                .cast("date")
    if ftype == "logical":
        return F.when(col == "", None).otherwise(col).cast("int")
    if ftype == "number":
        return F.when(col == "", "0").otherwise(col).cast("long")
    if ftype == "amount":
        return F.when(col == "", None).otherwise(col).cast("decimal(17,2)")
    if ftype in ("quantity", "rate"):
        return F.when(col == "", None).otherwise(col).cast("decimal(15,4)")
    return col  # text / custom stay strings


def read_tdl_response(spark: SparkSession, path: str,
                      spec: TableSpec) -> DataFrame:
    """Parse a Tally TDL response XML file into a typed DataFrame (A1+D1).

    ``lineSep='<F01>'`` makes the scan itself emit one record per data row,
    so parsing scales with partitions instead of driver memory. The record
    text then looks like ``v1</F01><F02>v2</F02>…`` and the whole rewrite
    (end-tag strip → field split → entity unescape → typed cast) is Column
    expressions — the reference's 14 regex passes (src/tally.mts:514-539)
    collapse into 4 codegen-friendly ones.
    """
    raw = spark.read.option("lineSep", "<F01>").text(path)
    # record 0 is the envelope header (no </F01> terminator on its text);
    # data records all contain at least one numbered field end tag. The
    # header of a Derived table's response can open with the outer line's
    # <FLDBLANK></FLDBLANK>, so a bare "</F" would keep it.
    rows = raw.filter(F.col("value").rlike(r"</F\d+>"))
    clean = (
        F.regexp_replace(                       # line breaks + tabs → space
            F.regexp_replace(F.col("value"), r"[\r\n]+", ""), r"\t", " "))
    clean = F.regexp_replace(clean, r"</ENVELOPE>\s*$", "")  # last record
    clean = F.regexp_replace(clean, r"<FLDBLANK></FLDBLANK>", "")
    clean = F.regexp_replace(clean, r"</F\d+>", "")          # end tags
    cells = F.split(clean, r"\s*<F\d+>")                     # start tags

    def _unescape(c: Column) -> Column:
        # entity unescape in the reference's order (src/tally.mts:525-531)
        for pat, rep in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                         ("&quot;", '"'), ("&apos;", "'"), ("&tab;", ""),
                         ("&#\\d+;", "")):
            c = F.regexp_replace(c, pat, rep)
        return c

    unescaped = F.transform(cells, _unescape)
    fields = [
        _decode(F.trim(unescaped.getItem(i)), f.type).alias(f.name)
        for i, f in enumerate(spec.fields)
    ]
    return rows.select(fields)


def auto_dates(voucher: DataFrame) -> tuple[str, str]:
    """Company-info probe (A7): resolve ``fromdate/todate: 'auto'`` from the
    voucher table's first/last dates (reference src/tally.mts:575-578 uses
    BooksFrom / LastVoucherDate from the company object)."""
    row = voucher.agg(F.min("date").alias("lo"),
                      F.max("date").alias("hi")).first()
    return str(row["lo"]), str(row["hi"])
