"""Deterministic GLAMR-shaped micro-fixtures (FIXTURES.md; SURVEY §5).

The reference tests by running the pipeline on a 3-sample subsampled dataset
(pypelib/utils.py:357-433, seed 67). This module synthesizes the same *shapes*
— per-sample result files in a reference-layout directory tree plus the
warehouse dimension tables — so the domain pipelines in
``glamr_omics_pipelines_spark.pipelines`` can be exercised end-to-end.

Everything is seeded (random.Random(67)) and tiny: 3 samples, 2 kingdoms →
30 species tree, ~60 contigs/sample, ~4 genes/contig, ~9 bins/sample.
"""

from __future__ import annotations

import os
import pathlib
import random

SAMPLES = ["samp_T1", "samp_T2", "samp_T3"]
BINNERS = ["metabat2", "maxbin", "concoct"]
RANK_CODES = ["K", "P", "C", "O", "F", "G", "S"]
RANKS = ["kingdom", "phylum", "class", "order", "family", "genus", "species"]


def _rng() -> random.Random:
    return random.Random(67)


def make_taxonomy() -> list[dict]:
    """Small proper tree: names carry their path so lineage strings are
    self-consistent (tax_info shape, postgres.Rmd:176-188)."""
    rng = _rng()
    rows, tax_id = [], 1

    def add(path: list[str], rank_i: int) -> dict:
        nonlocal tax_id
        std = ";".join(f"{c.lower()}__{n}" for c, n in zip(RANK_CODES, path))
        row = {"tax_id": tax_id, "tax_name": path[-1], "rank": RANK_CODES[rank_i],
               "std_lineage": std, "n_ranks": len(path)}
        for i, r in enumerate(RANKS):
            row[r] = path[i] if i < len(path) else None
        rows.append(row)
        tax_id += 1
        return row

    for k in ["Bacteria", "Archaea"]:
        add([k], 0)
        for p in range(2):
            phy = f"{k[:3]}_phy{p}"
            add([k, phy], 1)
            for g in range(2):
                gen = f"{phy}_gen{g}"
                # compress middle ranks: class/order/family named after genus
                path = [k, phy, f"{gen}_c", f"{gen}_o", f"{gen}_f", gen]
                for i in range(2, 6):
                    add(path[:i + 1], i)
                n_species = rng.randint(2, 5)
                for s in range(n_species):
                    add(path + [f"{gen}_sp{s}"], 6)
    return rows


def make_bracken_counts(taxonomy: list[dict]) -> list[dict]:
    """Per (sample, database, taxon): count_direct at species level; internal
    nodes carry count_w_subtax = sum of descendant directs (the bracken
    report invariant, FIXTURES.md §3 / postgres.Rmd:707-709)."""
    rng = _rng()
    by_lineage = {t["std_lineage"]: t for t in taxonomy}
    rows = []
    for sample in SAMPLES:
        for db in ["gtdb", "refseq"]:
            directs = {}
            for t in taxonomy:
                if t["rank"] == "S" and rng.random() < 0.8:
                    directs[t["std_lineage"]] = rng.randint(10, 5000)
            total = sum(directs.values())
            for t in taxonomy:
                sub = sum(v for lin, v in directs.items()
                          if lin.startswith(t["std_lineage"]))
                if sub == 0:
                    continue
                direct = directs.get(t["std_lineage"], 0)
                rows.append({
                    "sample": sample, "database": db,
                    "percent_abund": round(100.0 * sub / total, 5),
                    "count_w_subtax": sub, "count_direct": direct,
                    "rank": t["rank"], "tax_id": t["tax_id"],
                    "name": f"{t['rank'].lower()}__{t['tax_name']}"})
    assert by_lineage
    return rows


def _write_text(path: str, lines: list[str]) -> None:
    """Write ``lines`` unless ``path`` already holds them, so a regenerated
    input keeps its mtime (the warehouse DAG's up-to-date check)."""
    f, text = pathlib.Path(path), "".join(lines)
    if not f.exists() or f.read_text() != text:
        f.write_text(text)


def write_bracken_tree(root: str, rows: list[dict]) -> str:
    """Reference layout: {root}/{sample}/bracken_{db}.tsv, headerless
    (merge_bracken.R:39-58 reads these by glob)."""
    for sample in SAMPLES:
        os.makedirs(os.path.join(root, sample), exist_ok=True)
        for db in ["gtdb", "refseq"]:
            _write_text(
                os.path.join(root, sample, f"bracken_{db}.tsv"),
                ["\t".join(str(r[c]) for c in
                           ["percent_abund", "count_w_subtax", "count_direct",
                            "rank", "tax_id", "name"]) + "\n"
                 for r in rows
                 if r["sample"] == sample and r["database"] == db])
    return os.path.join(root, "*", "bracken_*.tsv")


def make_contigs() -> list[dict]:
    rng = _rng()
    rows = []
    for sample in SAMPLES:
        for n in range(1, 61):
            rows.append({"sample": sample, "contig": f"{sample}_{n}",
                         "length": rng.randint(1500, 250000)})
    return rows


def make_gene_rpkm_files(root: str, contigs: list[dict]) -> str:
    """bbmap-style rpkm files with prodigal #Name headers (FIXTURES.md §7,
    postgres.Rmd:1191-1203): 4 '#'-comment lines + '#Name' header line."""
    rng = _rng()
    os.makedirs(root, exist_ok=True)
    for sample in SAMPLES:
        sc = [c for c in contigs if c["sample"] == sample][:30]
        lines = [f"{c}\t_\n" for c in
                 ["#File", "#Reads", "#Mapped", "#RefSequences"]]
        lines.append("#Name\tLength\tBases\tCoverage\tReads\tRPKM\tFrags\tFPKM\n")
        for c in sc:
            for k in range(1, rng.randint(2, 5)):
                left = rng.randint(1, 5000)
                right = left + rng.randint(90, 2400)
                header = (f"{c['contig']}_{k} # {left} # {right} # 1 # "
                          f"ID={k}_{k};partial=00;start_type=ATG;"
                          f"rbs_motif=None;rbs_spacer=None;"
                          f"gc_cont={round(rng.uniform(0.3, 0.7), 3)}")
                fpkm = round(rng.uniform(0.5, 800.0), 4)
                lines.append(
                    f"{header}\t{right - left + 1}\t{rng.randint(100, 9000)}"
                    f"\t{round(rng.uniform(0.1, 60), 4)}\t{rng.randint(1, 900)}"
                    f"\t{round(rng.uniform(0.1, 500), 4)}\t{rng.randint(0, 400)}"
                    f"\t{fpkm}\n")
        _write_text(os.path.join(root, f"{sample}_genes.rpkm"), lines)
    return os.path.join(root, "*_genes.rpkm")


def make_kofam(contigs: list[dict]) -> list[dict]:
    """kofam_scan rows exercising every anvio-heuristic branch
    (FIXTURES.md §10): unique relaxed hits, multi-hit genes with one
    significant, score ties split by threshold."""
    rng = _rng()
    rows = []
    genes = [f"{c['contig']}_1" for c in contigs][:120]
    for i, gene in enumerate(genes):
        n_hits = 1 if i % 3 == 0 else rng.randint(2, 4)
        for h in range(n_hits):
            thr = round(rng.uniform(50, 400), 2)
            if i % 3 == 0:      # single relaxed hit (score in (0.5thr, thr))
                score = round(thr * rng.uniform(0.55, 0.95), 2)
            elif h == 0:        # one clearly significant hit
                score = round(thr * rng.uniform(1.05, 1.8), 2)
            else:               # relaxed competitor
                score = round(thr * rng.uniform(0.51, 0.99), 2)
            rows.append({"gene": gene, "ko": f"K{10000 + rng.randint(0, 999):05d}",
                         "thrshld": thr, "score": score,
                         "e_value": rng.choice([1e-30, 1e-12, 1e-7, 1e-6, 5e-6]),
                         "sig": "*" if score >= thr else ""})
    return rows


def make_bins(contigs: list[dict]) -> tuple[list[dict], list[dict], list[dict], list[dict]]:
    """checkm / gtdbtk / drep / membership for {sample}_{binner}_{n} bins
    (FIXTURES.md §11-13)."""
    rng = _rng()
    checkm, gtdb, drep, member = [], [], [], []
    for sample in SAMPLES:
        sc = [c["contig"] for c in contigs if c["sample"] == sample]
        for binner in BINNERS:
            for n in range(1, 4):
                b = f"{sample}_{binner}_{n}"
                checkm.append({"bin": b,
                               "completeness": round(rng.uniform(20, 99), 2),
                               "contamination": round(rng.uniform(0, 25), 2)})
                gtdb.append({"bin": b, "classification":
                             f"d__Bacteria;p__Bac_phy{n % 2};c__;o__;f__;"
                             f"g__Bac_phy{n % 2}_gen0;s__"})
                drep.append({"sample": sample, "bin": b,
                             "secondary_cluster": f"{n}_{rng.randint(0, 1)}",
                             "drep_score": round(rng.uniform(0, 1), 4),
                             "is_cluster_rep": rng.random() < 0.4})
                for c in rng.sample(sc, 6):
                    member.append({"contig": c, "binner": binner, "bin": b})
    return checkm, gtdb, drep, member


def make_read_counts() -> list[dict]:
    """fastp read ladder: 4 monotone stages × fwd/rev (FIXTURES.md §14)."""
    rng = _rng()
    states = ["raw_reads", "deduped_reads", "filt_and_trimmed_reads", "decon_reads"]
    rows = []
    for sample in SAMPLES:
        fwd = rng.randint(800_000, 1_200_000)
        rev = fwd + rng.randint(-5, 5)
        for i, st in enumerate(states):
            keep = rng.uniform(0.82, 0.99)
            if i:
                fwd, rev = int(fwd * keep), int(rev * keep)
            rows.append({"sample": sample, "read_state": st, "state_order": i,
                         "fwd_read_count": fwd, "rev_read_count": rev})
    return rows


def make_uniref_mapping(taxonomy: list[dict]) -> tuple[list[dict], list[dict], list[dict]]:
    """read_mapping_to_uniref + uniref lookup/index driving the tpm.R join
    chain (FIXTURES.md §8): index.length is stored +2 (postgres.Rmd:206-208)."""
    rng = _rng()
    lookup = [{"id": i, "uniref100": f"UniRef100_Q{i:05d}",
               "extra": rng.randint(0, 9)} for i in range(1, 201)]
    index = [{"id": r["id"], "offset": r["id"] * 1000,
              "length": rng.randint(90, 3000) + 2} for r in lookup]
    mapping = []
    species = [t for t in taxonomy if t["rank"] == "S"]
    for sample in SAMPLES:
        for r in rng.sample(lookup, 120):
            t = rng.choice(species)
            mapping.append({"sample": sample, "target": r["uniref100"],
                            "num_seqs_aligned": rng.randint(1, 40000),
                            "average_seq_identity": round(rng.uniform(0.5, 1.0), 4),
                            "taxonomy": t["tax_id"]})
    return mapping, lookup, index
