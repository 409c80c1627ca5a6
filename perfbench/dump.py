"""Tally dump and definition generator.

Renders the report slice of the 22-table model as the per-table TDL
response files ``{table}.xml`` that ``tally.dumpdir`` reads, and writes the
``tally.definition`` YAML the incremental sync needs.

The slice is the one ``plans.report_gate`` derives from the bench tables.
It is computed here with that module's DuckDB mirror (``_CTES``), so the
inputs are built without running the Spark program under test; the
report check later compares against the Spark derivation
(``report_gate.tally_catalog``).

Finding: the built-in model (``sources.registry.default_tables``) declares
no ``alterid`` field, so a dump parsed with it cannot run
``sync: incremental``. ``definition_yaml`` adds ``$AlterId`` to the Primary
tables. The dump carries it as the last field of each Primary row; the
built-in model ignores that trailing field, so one dump serves both.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SLICE = ("mst_group", "mst_ledger", "mst_vouchertype", "mst_stock_item",
         "mst_opening_batch_allocation", "trn_closingstock_ledger",
         "trn_voucher", "trn_accounting", "trn_inventory")
# Primary masters the slice derives without a guid: they get one here
_GUID_PREFIX = {"mst_group": "grp", "mst_ledger": "led",
                "mst_vouchertype": "vt", "mst_stock_item": "itm"}
VOUCHER_CHILDREN = ("trn_accounting", "trn_inventory")
# shares of the vouchers the mutation batch modifies or deletes, and
# inserts (the 300 inserts of a 150k-voucher sf0.1 batch, scaled)
MUTATE_SHARE = 0.005
INSERT_SHARE = 0.002
_EMPTY = {"text": "", "logical": "0", "date": "ñ", "number": "0",
          "amount": "0", "quantity": "0", "rate": "0", "custom": ""}


def specs():
    """The slice's TableSpecs: built-in field order plus ``alterid`` on
    the Primary tables, cascade edges kept."""
    from tally_database_loader_spark.sources.registry import (
        FieldSpec, default_tables)
    out = {}
    for name, spec in default_tables().items():
        if name not in SLICE:
            continue
        if spec.nature == "Primary":
            spec.fields.append(FieldSpec("alterid", "$AlterId", "number"))
        out[name] = spec
    return out


def definition_yaml(table_specs) -> str:
    import yaml
    doc = {"master": [], "transaction": []}
    for spec in table_specs.values():
        doc[spec.watermark_group()].append({
            "name": spec.name, "collection": spec.collection,
            "nature": spec.nature,
            "fields": [{"name": f.name, "field": f.expr, "type": f.type}
                       for f in spec.fields],
            "filters": list(spec.filters), "fetch": list(spec.fetch),
            "cascade_update": dict(spec.cascade_update),
            "cascade_delete": dict(spec.cascade_delete)})
    return yaml.safe_dump(doc, sort_keys=False)


def derive_slice(sf_dir: str) -> dict[str, pa.Table]:
    """The slice as Arrow tables, rows in a fixed order, with guid and
    alterid added to the Primary tables (one AlterId counter for masters
    and one for vouchers, as Tally keeps)."""
    import duckdb

    from tally_database_loader_spark.plans.report_gate import _CTES
    con = duckdb.connect()
    try:
        for t in ("customer", "part", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(sf_dir, t + '.parquet')}')")
        out = {}
        for name in SLICE:
            tbl = con.sql(f"WITH {_CTES} SELECT * FROM {name} "
                          "ORDER BY ALL").arrow()
            out[name] = tbl.replace_schema_metadata(None)
    finally:
        con.close()
    master_id = 0
    for name, prefix in _GUID_PREFIX.items():
        n = out[name].num_rows
        out[name] = out[name].add_column(
            0, "guid", pa.array([f"{prefix}-{i}" for i in range(n)]))
        out[name] = out[name].append_column(
            "alterid", pa.array(np.arange(master_id + 1, master_id + n + 1),
                                pa.int64()))
        master_id += n
    v = out["trn_voucher"]
    order = pc.sort_indices(pc.cast(v["guid"], pa.int64()))
    v = v.take(order)
    out["trn_voucher"] = v.append_column(
        "alterid", pa.array(np.arange(1, v.num_rows + 1), pa.int64()))
    return out


@dataclass
class Mutation:
    modified: list[str]
    deleted: list[str]
    inserted: list[str]

    def rows(self, base: dict[str, pa.Table]) -> int:
        """Rows of ``base`` the batch touches, inserts counted as their
        copies' rows."""
        keys = set(self.modified) | set(self.deleted) | set(self.inserted)
        return sum(int(pc.sum(pc.is_in(base[t]["guid"], pa.array(
                       sorted(keys), pa.string()))).as_py() or 0)
                   for t in ("trn_voucher", *VOUCHER_CHILDREN))


def mutate(base: dict[str, pa.Table], seed: int
           ) -> tuple[dict[str, pa.Table], Mutation]:
    """A clustered tail batch, as a Tally CDC pull looks: ``MUTATE_SHARE``
    of the vouchers, drawn from the most recent ids, change. Half are
    modified (new narration, doubled line amounts, AlterId past the
    watermark), half deleted with their children; ``INSERT_SHARE`` of them
    come new, copying the header and lines of random existing ones. The
    seed picks which."""
    rng = np.random.default_rng([seed, 1])
    v = base["trn_voucher"]
    n_v = v.num_rows
    guids = np.array(v["guid"].to_pylist())
    n_mut = max(2, int(round(n_v * MUTATE_SHARE)))
    n_ins = max(1, int(round(n_v * INSERT_SHARE)))
    picked = rng.permutation(np.arange(n_v - 2 * n_mut, n_v))[:n_mut]
    mod_idx = np.sort(picked[:n_mut // 2])
    del_idx = np.sort(picked[n_mut // 2:])
    src_idx = rng.choice(n_v - 2 * n_mut, n_ins, replace=False)
    max_key = int(guids.astype(np.int64).max())
    ins = [str(max_key + 1 + i) for i in range(n_ins)]
    m = Mutation(guids[mod_idx].tolist(), guids[del_idx].tolist(), ins)
    modified, deleted = (pa.array(k, pa.string()) for k in (m.modified,
                                                            m.deleted))
    wm = int(pc.max(v["alterid"]).as_py())
    out = dict(base)

    alter = v["alterid"].to_numpy().copy()
    alter[mod_idx] = wm + 1 + np.arange(len(mod_idx))
    narr = np.array(v["narration"].to_pylist(), dtype=object)
    narr[mod_idx] = "edited"
    keep = np.ones(n_v, bool)
    keep[del_idx] = False
    head = (v.set_column(v.schema.get_field_index("alterid"), "alterid",
                         pa.array(alter, pa.int64()))
             .set_column(v.schema.get_field_index("narration"), "narration",
                         pa.array(narr.tolist(), pa.string()))
             .filter(pa.array(keep)))
    copies = v.take(pa.array(src_idx))
    copies = (copies.set_column(0, "guid", pa.array(ins))
                    .set_column(copies.schema.get_field_index("voucher_number"),
                                "voucher_number", pa.array(ins))
                    .set_column(copies.schema.get_field_index("alterid"),
                                "alterid",
                                pa.array(wm + 1 + len(mod_idx)
                                         + np.arange(n_ins), pa.int64())))
    out["trn_voucher"] = pa.concat_tables([head, copies])

    src_map = dict(zip(guids[src_idx].tolist(), ins))
    for t in VOUCHER_CHILDREN:
        c = base[t]
        g = c["guid"]
        kept = c.filter(pc.invert(pc.is_in(g, deleted)))
        is_m = pc.is_in(kept["guid"], modified)
        amount = pc.if_else(is_m, pc.multiply(kept["amount"],
                                              pa.scalar(2, pa.int64())),
                            kept["amount"])
        kept = kept.set_column(kept.schema.get_field_index("amount"),
                               "amount", pc.cast(amount,
                                                 c.schema.field("amount").type))
        dup = c.filter(pc.is_in(g, pa.array(list(src_map))))
        dup = dup.set_column(0, "guid", pa.array(
            [src_map[x] for x in dup["guid"].to_pylist()]))
        out[t] = pa.concat_tables([kept, dup])
    return out, m


def _cell(col: pa.ChunkedArray, ftype: str) -> pa.ChunkedArray:
    """One column as TDL response text, encoded as Tally's SET
    expressions emit it: ñ for an empty date, 0/1 logicals, escaped
    text."""
    s = pc.cast(col, pa.string())
    if ftype in ("text", "custom"):
        for raw, esc in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            s = pc.replace_substring(s, raw, esc)
    return pc.fill_null(s, _EMPTY[ftype])


def render(tbl: pa.Table, spec) -> str:
    """One table as a TDL response: an envelope with one ``<F01>…<Fnn>``
    line per row, in the spec's field order. Fields the slice does not
    derive carry the type's empty value.

    No ``<FLDBLANK>`` markers are written: a Derived-table response whose
    first row opens with one does not parse (see NOTES.md, findings)."""
    n = tbl.num_rows
    pieces = []
    for i, f in enumerate(spec.fields, start=1):
        if f.name in tbl.column_names:
            cell = _cell(tbl[f.name], f.type)
        else:
            cell = pa.array([_EMPTY[f.type]] * n, pa.string())
        pieces += [pa.array([f"<F{i:02d}>"] * n), cell,
                   pa.array([f"</F{i:02d}>"] * n)]
    lines = pc.binary_join_element_wise(*pieces, "")
    return "<ENVELOPE>\r\n" + "\r\n".join(lines.to_pylist()) + "\r\n</ENVELOPE>\r\n"


def expected_rows(tbl: pa.Table, spec) -> list[tuple]:
    """The typed rows a parse of ``render(tbl, spec)`` must return, in the
    spec's field order: absent fields decode to their type's empty value
    (NULL for a date)."""
    import decimal
    scale = {"amount": decimal.Decimal("0.01"),
             "quantity": decimal.Decimal("0.0001"),
             "rate": decimal.Decimal("0.0001")}
    cols = []
    for f in spec.fields:
        vals = (tbl[f.name].to_pylist() if f.name in tbl.column_names
                else [None] * tbl.num_rows)
        if f.type in scale:
            vals = [decimal.Decimal(v if v is not None else 0)
                    .quantize(scale[f.type]) for v in vals]
        elif f.type in ("logical", "number"):
            vals = [int(v or 0) for v in vals]
        elif f.type != "date":
            vals = ["" if v is None else v for v in vals]
        cols.append(vals)
    return list(zip(*cols))


def write_dump(tables: dict[str, pa.Table], table_specs, out_dir: str
               ) -> dict[str, int]:
    """Write ``{table}.xml`` per table; returns rows per table and the
    dump's total bytes under ``"__bytes__"``."""
    os.makedirs(out_dir, exist_ok=True)
    counts, total = {}, 0
    for name, tbl in tables.items():
        text = render(tbl, table_specs[name])
        path = os.path.join(out_dir, f"{name}.xml")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        total += os.path.getsize(path)
        counts[name] = tbl.num_rows
    counts["__bytes__"] = total
    return counts
