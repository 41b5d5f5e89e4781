"""Seeded input generators and the outputs they plant.

Every generator takes a ``random.Random`` built from the run's
``--seed``, so one seed always yields the same inputs; the expected
outputs are derived from what was planted, never from running the
program.
"""

from __future__ import annotations

import random

# ---------------------------------------------------------------------------
# etl_docs: one synthetic "PDF" as camelot-like cell grids
# ---------------------------------------------------------------------------

SYLLABLES = [
    "ba", "ka", "ma", "na", "ra", "sa", "ta", "ja", "la", "wa", "ga", "da",
    "bu", "ku", "mu", "nu", "ru", "su", "tu", "lu", "gi", "di", "ri", "si",
    "ng", "ong", "ang", "eng", "an", "un", "in", "o", "e", "i",
]

WIDE_HEADER = [
    ["K O D E", "NAMA PROVINSI / KABUPATEN / KOTA", "JUMLAH", "",
     "N A M A / J U M L A H", "", "", "LUAS WILAYAH (Km2)", "K E T E R A N G A N"],
    ["", "KAB", "KOTA", "KECAMATAN", "KELURAHAN", "D E S A", "", "", ""],
]
NARROW_HEADER = [
    ["K O D E", "NAMA PROVINSI / KABUPATEN / KOTA", "JUMLAH", "NAMA", "", ""],
    ["", "", "", "", "", ""],
]
ISLAND_HEADER_WIDE = [
    "Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau", "Jumlah",
    "Koordinat", "Luas\n2\n(Km )", "BP/TBP", "Keterangan",
]
ISLAND_HEADER_MESSY = ["Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP", "Keterangan"]
UNMATCHED_HEADER = [
    "NO", "KODE", "NAMA", "IBUKOTA", "JUMLAH PENDUDUK", "LUAS", "KEPADATAN",
    "KAB", "KOTA", "KEC", "KEL", "DESA",
]

#: entity -> output CSV columns (the program's default config)
ENTITY_COLUMNS = {
    "province": ["code", "name"],
    "regency": ["code", "province_code", "name"],
    "district": ["code", "regency_code", "name"],
    "village": ["code", "district_code", "name"],
    "island": ["code", "regency_code", "coordinate", "is_populated",
               "is_outermost_small", "name"],
}

PAGES = 3                 # one chunk at the CLI's default --chunk-size 3
REGENCIES_PER_PAGE = 3
DISTRICTS_PER_REGENCY = 3
VILLAGES_PER_DISTRICT = 4
ISLANDS_PER_PAGE = 16


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))).capitalize()


def _name(rng: random.Random, prefix: str = "", words: int = 0) -> str:
    parts = [_word(rng) for _ in range(words or rng.randint(1, 3))]
    return " ".join(([prefix] if prefix else []) + parts)


class Planted:
    """Expected rows per entity plus which fields the check may compare."""

    def __init__(self) -> None:
        self.rows: dict[str, list[dict]] = {k: [] for k in ENTITY_COLUMNS}
        self._provinces: set[str] = set()

    def area(self, entity: str, code: str, parent: str | None,
             name: str, clean: bool) -> None:
        if entity == "province":
            if code in self._provinces:
                return  # first-seen province wins
            self._provinces.add(code)
        row = {"code": code, "name": name if clean else None}
        if parent is not None:
            row[ENTITY_COLUMNS[entity][1]] = parent
        self.rows[entity].append(row)

    def island(self, **row) -> None:
        self.rows["island"].append(row)


def _area_name_cell(rng: random.Random, name: str) -> tuple[str, bool]:
    """Cell text for a planted name; ``clean`` says if the program must
    return ``name`` unchanged (wrapped and row-numbered cells are only
    checked by code)."""
    r = rng.random()
    if r < 0.15 and " " in name:
        head, tail = name.split(" ", 1)
        return f"{head}\n{tail}", False
    if r < 0.25:
        return f"{rng.randint(1, 40)} {name}", False
    return name, True


def _area_row(width: int, code: str, cell: str, alt: bool) -> list[str]:
    """One data row; ``alt`` moves the name to the fallback column."""
    row = [""] * width
    row[0] = code
    if width == 6:
        row[3 if alt else 1] = cell
    else:
        row[5 if alt else 1] = cell
        row[7] = "12,5"
    return row


def _coordinate(rng: random.Random) -> tuple[str, str, bool]:
    """(cell text, canonical output, canonical?) for an island coordinate."""
    lat = (rng.randint(0, 9), rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 99))
    lon = (rng.randint(95, 140), rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 99))
    ns_in, ns_out = rng.choice([("U", "N"), ("S", "S")])
    canon = (f"{lat[0]:02d}°{lat[1]:02d}'{lat[2]:02d}.{lat[3]:02d}\" {ns_out} "
             f"{lon[0]:03d}°{lon[1]:02d}'{lon[2]:02d}.{lon[3]:02d}\" E")
    if rng.random() < 0.6:
        text = (f"{lat[0]:02d}°{lat[1]:02d}'{lat[2]:02d}.{lat[3]:02d}\" {ns_in} "
                f"{lon[0]:03d}°{lon[1]:02d}'{lon[2]:02d}.{lon[3]:02d}\" T")
        return text, canon, True
    # messy: missing second-quotes, inner spaces, doubled quotes
    text = rng.choice([
        f"{lat[0]:02d}°{lat[1]:02d}'{lat[2]:02d} {ns_in} {lon[0]:03d}°{lon[1]:02d}'{lon[2]:02d} T",
        f"{lat[0]:02d}° {lat[1]:02d}'{lat[2]:02d}.{lat[3]:02d}\" {ns_in} "
        f"{lon[0]:03d}° {lon[1]:02d}'{lon[2]:02d}.{lon[3]:02d}\" T",
        f"{lat[0]:02d}°{lat[1]:02d}'{lat[2]:02d}.{lat[3]:02d}\"\" {ns_in} "
        f"{lon[0]:03d}°{lon[1]:02d}'{lon[2]:02d}.{lon[3]:02d}\"\" T",
    ])
    return text, canon, False


def etl_document(rng: random.Random) -> tuple[list, Planted]:
    """Cell grids ``[[page_no, table_no, grid], ...]`` and planted rows.

    Each page holds an area table (wide on odd pages, narrow on even),
    a table no extractor may claim, and an island table (canonical on
    odd pages, messy on even).  Page 2 repeats page 1's province under
    another name, so first-seen dedup is exercised.
    """
    planted = Planted()
    tables: list = []
    province_codes = rng.sample(range(11, 95), PAGES)
    province_names: dict[str, str] = {}
    for page in range(1, PAGES + 1):
        wide = page % 2 == 1
        width = 9 if wide else 6
        grid = [list(r) for r in (WIDE_HEADER if wide else NARROW_HEADER)]
        pcodes = [f"{province_codes[page - 1]:02d}"]
        if page == 2:
            pcodes.insert(0, f"{province_codes[0]:02d}")
        for pcode in pcodes:
            pname = province_names.setdefault(pcode, _name(rng, words=2))
            shown = pname if pcode == pcodes[-1] else _name(rng, words=2)
            grid.append(_area_row(width, pcode, shown, alt=False))
            planted.area("province", pcode, None, shown, clean=True)
        pcode = pcodes[-1]
        for r in rng.sample(range(1, 80), REGENCIES_PER_PAGE):
            rcode = f"{pcode}.{r:02d}"
            rname = _name(rng, rng.choice(["Kabupaten", "Kota"]), words=rng.randint(1, 2))
            cell, clean = _area_name_cell(rng, rname)
            grid.append(_area_row(width, rcode, cell, alt=not wide and rng.random() < 0.3))
            planted.area("regency", rcode, pcode, rname, clean)
            for d in rng.sample(range(1, 60), DISTRICTS_PER_REGENCY):
                dcode = f"{rcode}.{d:02d}"
                dname = _name(rng)
                cell, clean = _area_name_cell(rng, dname)
                grid.append(_area_row(width, dcode, cell, alt=False))
                planted.area("district", dcode, rcode, dname, clean)
                for v in rng.sample(range(1, 3000), VILLAGES_PER_DISTRICT):
                    vcode = f"{dcode}.{1000 + v:04d}"
                    vname = _name(rng)
                    cell, clean = _area_name_cell(rng, vname)
                    grid.append(_area_row(width, vcode, cell, alt=wide and rng.random() < 0.3))
                    planted.area("village", vcode, dcode, vname, clean)
                # a continuation row: name without a code is dropped
                grid.append(_area_row(width, "", _name(rng), alt=False))
        tables.append([page, 0, grid])

        unmatched = [list(UNMATCHED_HEADER)] + [
            [str(i), f"{pcode}.{i:02d}", _name(rng), _name(rng)] + [str(rng.randint(1, 999))] * 8
            for i in range(1, 6)
        ]
        tables.append([page, 1, unmatched])

        header = ISLAND_HEADER_WIDE if wide else ISLAND_HEADER_MESSY
        igrid = [list(header)]
        regency = f"{pcode}.{rng.randint(1, 79):02d}"
        igrid.append([regency, _name(rng, "Kabupaten")] + [""] * (len(header) - 2))
        for n in rng.sample(range(1, 99999), ISLANDS_PER_PAGE):
            code = f"{pcode}.00.{n:05d}" if rng.random() < 0.2 else f"{regency}.{n:05d}"
            name = _name(rng, "Pulau")
            cell, coord, canonical = _coordinate(rng)
            populated = rng.random() < 0.4
            outermost = rng.random() < 0.2
            status = "BP" if populated else "TBP"
            info = "(PPKT)" if outermost else ""
            if wide:
                row = [code, name, "1", cell, "0.0006", status, info]
            else:
                row = [code, name, cell, status, info]
            igrid.append(row)
            planted.island(
                code=code,
                regency_code="" if code.split(".")[1] == "00" else code[:5],
                coordinate=coord if canonical else None,
                is_populated="1" if populated else "0",
                is_outermost_small="1" if outermost else "0",
                name=name,
            )
        tables.append([page, 2, igrid])
    return tables, planted


# ---------------------------------------------------------------------------
# corpus_mix: a documents table with planted one-word-edit near-duplicates
# ---------------------------------------------------------------------------

VOCAB = 4000
LANGS = ["en", "id", "zh", "fr"]
DUP_FRAC = 0.3


def corpus(rng: random.Random, n_docs: int) -> tuple[dict[str, list], int]:
    """Columns of a ``documents`` table and the number of originals.

    ``DUP_FRAC`` of the documents are one-word edits of an earlier
    original.  Originals draw 40-70 words from ``VOCAB`` words, so two
    originals share almost no word 3-grams, while an edit keeps word
    3-gram Jaccard with its original >= 0.8: fuzzy dedup at 3/5 must
    keep exactly the originals.
    """
    vocab = [f"w{i}" for i in range(VOCAB)]
    n_dups = int(n_docs * DUP_FRAC)
    dup_at = set(rng.sample(range(1, n_docs), n_dups))
    originals: list[list[str]] = []
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for doc_id in range(n_docs):
        if doc_id in dup_at:
            words = list(rng.choice(originals))
            pos = rng.randrange(len(words))
            edit = rng.choice(["sub", "ins", "del"])
            if edit == "sub":
                words[pos] = rng.choice(vocab)
            elif edit == "ins":
                words.insert(pos, rng.choice(vocab))
            else:
                del words[pos]
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(40, 70))]
            originals.append(words)
        text = " ".join(words)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(rng.choice(LANGS))
        cols["source"].append(f"src{rng.randrange(8)}")
        cols["n_chars"].append(len(text))
    return cols, len(originals)
