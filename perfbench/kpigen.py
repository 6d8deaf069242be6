"""Seeded generator of the kpi_ingest inputs.

Writes `batches` batches, each with one directory per flow:

  gzip/      gzipped 3GPP TS 32.435 XML (`.xml.gz` and bare `.gz` names)
  xml_fast/  plain 32.435 XML
  hardware/  plain 32.435 XML, some without a managedElement
  csv/       wide cell-KPI CSV files (the 67 declared columns)

Every XML flow gets duplicate-content files under new names, so the md5
backup dedup has work to do. The XML covers the FIXTURES.md section 1
edge cases: NIL, NULL and empty `r` values, an `r` whose `p` has no
measType, an LDN without `=`, several measInfo per file and a missing
managedElement. The CSV covers section 3: null ints and doubles, nil
interference spellings, a malformed Time and quoted commas.

Alongside the files it writes `expected.json`: per batch and flow the
file count, distinct-content count, row count and the sum of the checked
value (kpiValue for XML, the cleansed Latitude for CSV). These come from
the generator's own model of the inputs, not from the engine.

Usage: python3 perfbench/kpigen.py <seed> <out_dir>
"""

import gzip
import json
import os
import random
import sys

NS = "http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec"
BATCHES = 4
XML_FILES = 8        # per XML flow and batch, duplicates included
DUPLICATES = 2       # of those, copies of an earlier file's content
CSV_FILES = 3
CSV_ROWS = 200
# (measTypes, measValues) of each measInfo in a file. The shape is fixed,
# so every batch has the same row count and only the content varies with
# the seed; the last measType of each measInfo is left unnamed.
MEAS_INFOS = ((6, 18), (8, 22), (10, 26))

# (type, name) of the declared cell-KPI columns: s string, i int, d double
CSV_COLUMNS = [
    ("s", "Time"), ("s", "eNodeB Name"), ("s", "Frequency band"),
    ("s", "Cell FDD TDD Indication"), ("s", "Cell Name"), ("i", "Downlink EARFCN"),
    ("i", "Downlink bandwidth"), ("s", "LTECell Tx and Rx Mode"), ("i", "LocalCell Id"),
    ("s", "eNodeB Function Name"), ("d", "Latitude"), ("d", "Longitude"), ("s", "Integrity"),
    ("d", "FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)"),
    ("i", "FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)"),
    ("d", "FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)"), ("d", "FT_PHYSICAL RESOURCE BLOCKS LOAD UL"),
    ("d", "FT_4G/LTE DL TRAFFIC VOLUME (GBYTES)"), ("d", "FT_4G/LTE DL&UL TRAFFIC VOLUME (GBYTES)"),
    ("d", "FT_4G/LTE UL TRAFFIC VOLUME (GBYTES)"), ("d", "FT_4G/LTE CONGESTED CELLS RATE"),
    ("d", "FT_4G/LTE CALL SETUP SUCCESS RATE"), ("d", "FT_4G/LTE AVERAGE REPORTED CQI"),
    ("d", "FT_4G/LTE PAGING DISCARD RATE"), ("d", "FT_4G/LTE RADIO DOWNLINK DELAY(ms)"),
    ("d", "FT_4G/LTE VOLTE TRAFFIC VOLUME (GBYTES)"),
    ("d", "FT_AVE 4G/LTE DL USER THRPUT (ALL) (KBPS)(kB/s)"),
    ("d", "FT_AVE 4G/LTE DL THRPUT (ALL) (KBITS/SEC)"),
    ("i", "FT_AVERAGE NB OF CA UEs RRC CONNECTED(number)"),
    ("i", "FT_AVERAGE NUMBER OF UE QUEUED DL"), ("i", "FT_AVERAGE NUMBER OF UE QUEUED UL"),
    ("d", "FT_S1 SUCCESS RATE"), ("s", "FT_UL.Interference"), ("d", "Average Nb of e-RAB per UE"),
    ("d", "Average Nb of PRB used per Ue"), ("d", "Average Nb of Used PRB for SRB"),
    ("i", "FT_AVERAGE NUMBER OF UE SCHEDULED PER ACTIVE TTI DL (FDD)(number)"),
    ("i", "FT_AVERAGE NUMBER OF UE SCHEDULED PER ACTIVE TTI UL (TDD)"),
    ("d", "FT_CS FALLBACK SUCCESS RATE (4G SIDE ONLY)"), ("d", "FT_CS FALLBACK TO WCDMA RATIO"),
    ("d", "FT_ERAB SETUP SUCCESS RATE"), ("d", "FT_ERAB SETUP SUCCESS RATE (ALL)(%)"),
    ("d", "FT_ERAB SETUP SUCCESS RATE (init)"), ("d", "FT_RRC SUCCESS RATE"),
    ("i", "Nb e-RAB Setup Fail"), ("i", "Nb HO fail to GERAN"), ("i", "Nb HO fail to UTRA FDD"),
    ("i", "Nb initial e-RAB Setup Fail"), ("i", "Nb initial e-RAB Setup Succ"),
    ("d", "Nb initial e-RAB Sucess rate(%)"), ("i", "Nb of HO over S1 for e-RAB Fail"),
    ("i", "Nb of HO over S1 for e-RAB Req"), ("i", "Nb of HO over S1 for e-RAB Succ"),
    ("i", "Nb of HO over X2 for e-RAB Fail"), ("i", "Nb of HO over X2 for e-RAB Succ"),
    ("i", "Nb of RRC connection release"), ("i", "Nb S1 Add e-RAB Setup fail"),
    ("d", "RRC Emergency SR"), ("d", "RRC High Priority SR(%)"), ("d", "RRC MOC SR(%)"),
    ("d", "RRC MTC SR(%)"), ("d", "RRC Succ rate(%)"), ("d", "CSFB failure rate(%)"),
    ("d", "E-RAB Resource Congestion Rate(%)"), ("d", "RRC Resource Congestion Rate(%)"),
    ("d", "Average TA"), ("d", "AVE 4G/LTE UL USER THRPUT without Last TTI (Kbps)"),
]

LATITUDE_NULL = 999.0  # what the cleanse chain fills a missing Latitude with


def xml_file(rng, with_element):
    """One measCollecFile; returns (text, rows, kpiValue sum)."""
    rows, total = 0, 0.0
    out = [f'<measCollecFile xmlns="{NS}">',
           '<fileHeader><measCollec beginTime="2025-04-13T10:00:00Z"/></fileHeader>',
           "<measData>"]
    if with_element:
        out.append(f'<managedElement localDn="SubNetwork=TN,ManagedElement=ME{rng.randrange(100)}"/>')
    for mi, (n_types, n_values) in enumerate(MEAS_INFOS):
        out.append(f'<measInfo measInfoId="LTE_{mi}"><job jobId="job-{mi}"/>'
                   '<granPeriod duration="PT900S" endTime="2025-04-13T10:15:00Z"/>')
        # the last p has no measType, so its KPIs fall back to UNKNOWN_p
        out.extend(f'<measType p="{p}">KPI_{mi}_{p}</measType>' for p in range(1, n_types))
        for v in range(n_values):
            node = rng.randrange(1000)
            ldn = f"eNodeB=NODE{node},Cell={v}" if rng.random() > 0.1 else f"NODE{node}-Cell{v}"
            out.append(f'<measValue measObjLdn="{ldn}">')
            for p in range(1, n_types + 1):
                roll = rng.random()
                if roll < 0.06:
                    out.append(f'<r p="{p}">NIL</r>')
                elif roll < 0.09:
                    out.append(f'<r p="{p}">NULL</r>')
                elif roll < 0.11:
                    out.append(f'<r p="{p}"></r>')
                else:
                    value = rng.randrange(100000) / 10
                    out.append(f'<r p="{p}">{value}</r>')
                    total += value
                rows += 1
            out.append("</measValue>")
        out.append("</measInfo>")
    out.append("</measData></measCollecFile>")
    return "\n".join(out), rows, total


def xml_flow(rng, flow, directory):
    os.makedirs(directory)
    made = []  # (text, rows, total) of distinct contents
    files = rows = 0
    total = 0.0
    for i in range(XML_FILES):
        if i >= XML_FILES - DUPLICATES:
            text, r, t = made[rng.randrange(len(made))]
        else:
            text, r, t = xml_file(rng, with_element=(flow != "hardware" or i % 3 != 1))
            made.append((text, r, t))
        if flow == "gzip":
            name = f"A{i:03d}.xml.gz" if i % 2 == 0 else f"B{i:03d}.gz"
            with open(os.path.join(directory, name), "wb") as f:
                f.write(gzip.compress(text.encode(), mtime=0))
        else:
            with open(os.path.join(directory, f"meas_{i:03d}.xml"), "w") as f:
                f.write(text)
        files += 1
        rows += r
        total += t
    return {"files": files, "distinct": len(made), "rows": rows, "sum": total}


def csv_cell(rng, kind, name, r):
    if name == "Time":
        return "13-45-2025 99:99" if r == 7 else f"04-{1 + r % 28:02d}-2025 {r % 24:02d}:{r % 4 * 15:02d}"
    if name == "eNodeB Name":
        return f'"Site {r}, North"' if r % 5 == 0 else f"Site {r}"
    if name == "FT_UL.Interference":
        return ["nil", "NIL", " nil ", f"-{100 + r % 20}.5"][r % 4]
    if name == "Latitude":
        return "" if r % 9 == 0 else f"{30 + rng.randrange(100000) / 10000:.4f}"
    if kind == "i":
        return "" if rng.random() < 0.05 else str(rng.randrange(5000))
    if kind == "d":
        return "" if rng.random() < 0.05 else f"{rng.randrange(1000000) / 100:.2f}"
    return f"{name[:4]}{r % 7}"


def csv_flow(rng, directory):
    os.makedirs(directory)
    rows, total = 0, 0.0
    header = ",".join(n for _, n in CSV_COLUMNS)
    for i in range(CSV_FILES):
        lines = [header]
        for r in range(CSV_ROWS):
            cells = [csv_cell(rng, k, n, r) for k, n in CSV_COLUMNS]
            lat = cells[10]
            total += float(lat) if lat else LATITUDE_NULL
            lines.append(",".join(cells))
        rows += CSV_ROWS
        with open(os.path.join(directory, f"cells_{i:03d}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return {"files": CSV_FILES, "distinct": CSV_FILES, "rows": rows, "sum": total}


def generate(seed, out_dir, batches=BATCHES):
    """Write the batches under out_dir and return the expected numbers."""
    rng = random.Random(seed)
    expected = {"seed": seed, "batches": []}
    for b in range(batches):
        root = os.path.join(out_dir, f"b{b}")
        exp = {f: xml_flow(rng, f, os.path.join(root, f)) for f in ("gzip", "xml_fast", "hardware")}
        exp["csv"] = csv_flow(rng, os.path.join(root, "csv"))
        expected["batches"].append(exp)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    return expected


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
