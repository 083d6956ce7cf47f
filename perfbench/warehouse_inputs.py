"""Seeded N-sample inputs for the Layer-C warehouse build.

``glamr_omics_pipelines_spark.fixtures`` fixes three samples, so this module
writes the same shapes for any number of samples: per-sample bracken TSVs
(``{sample}/bracken_{db}.tsv``), bbmap ``{sample}_genes.rpkm`` files with
prodigal headers, and the row lists behind the warehouse's in-memory frames
(taxonomy, bins, kofam hits, read ladders, UniRef mapping).

One tree is written for each sample count from ``n_initial`` to
``n_samples``, holding the first that many samples, so one build can load
the first tree and each later build the next one's new sample.
``expected_rows`` gives each base table's row count after loading a sample
set, computed from the generated rows alone.
"""

from __future__ import annotations

import json
import os
import random

RANK_CODES = ["K", "P", "C", "O", "F", "G", "S"]
RANKS = ["kingdom", "phylum", "class", "order", "family", "genus", "species"]
BINNERS = ["metabat2", "maxbin", "concoct"]
READ_STATES = ["raw_reads", "deduped_reads", "filt_and_trimmed_reads",
               "decon_reads"]
CONTIGS_PER_SAMPLE = 60
UNIREF_IDS = 200
MAPPED_PER_SAMPLE = 120
KOFAM_GENES_PER_SAMPLE = 40


def sample_names(n: int) -> list[str]:
    return [f"samp_S{i:03d}" for i in range(n)]


def _taxonomy(rng: random.Random) -> list[dict]:
    rows: list[dict] = []

    def add(path: list[str]) -> None:
        rank_i = len(path) - 1
        row = {"tax_id": len(rows) + 1, "tax_name": path[-1],
               "rank": RANK_CODES[rank_i],
               "std_lineage": ";".join(f"{c.lower()}__{n}"
                                       for c, n in zip(RANK_CODES, path)),
               "n_ranks": len(path)}
        for i, r in enumerate(RANKS):
            row[r] = path[i] if i < len(path) else None
        rows.append(row)

    for k in ["Bacteria", "Archaea"]:
        add([k])
        for p in range(2):
            phy = f"{k[:3]}_phy{p}"
            add([k, phy])
            for g in range(2):
                gen = f"{phy}_gen{g}"
                path = [k, phy, f"{gen}_c", f"{gen}_o", f"{gen}_f", gen]
                for i in range(2, 6):
                    add(path[:i + 1])
                for s in range(rng.randint(2, 5)):
                    add(path + [f"{gen}_sp{s}"])
    return rows


def _bracken_lines(rng: random.Random, taxonomy: list[dict], db: str
                   ) -> tuple[list[str], int]:
    """One sample/database report; returns (lines, species rows)."""
    directs = {t["std_lineage"]: rng.randint(10, 5000)
               for t in taxonomy if t["rank"] == "S" and rng.random() < 0.8}
    total = sum(directs.values())
    lines, n_species = [], 0
    for t in taxonomy:
        sub = sum(v for lin, v in directs.items()
                  if lin.startswith(t["std_lineage"]))
        if sub == 0:
            continue
        n_species += t["rank"] == "S"
        lines.append("\t".join(str(v) for v in [
            round(100.0 * sub / total, 5), sub, directs.get(t["std_lineage"], 0),
            t["rank"], t["tax_id"], f"{t['rank'].lower()}__{t['tax_name']}"]))
    return lines, n_species


def _rpkm_lines(rng: random.Random, sample: str) -> list[str]:
    lines = [f"{c}\t_" for c in ["#File", "#Reads", "#Mapped", "#RefSequences"]]
    lines.append("#Name\tLength\tBases\tCoverage\tReads\tRPKM\tFrags\tFPKM")
    for n in range(1, CONTIGS_PER_SAMPLE + 1):
        for k in range(1, rng.randint(2, 5)):
            left = rng.randint(1, 5000)
            right = left + rng.randint(90, 2400)
            header = (f"{sample}_{n}_{k} # {left} # {right} # 1 # ID={k}_{k};"
                      f"partial=00;start_type=ATG;rbs_motif=None;"
                      f"rbs_spacer=None;gc_cont={round(rng.uniform(0.3, 0.7), 3)}")
            lines.append(
                f"{header}\t{right - left + 1}\t{rng.randint(100, 9000)}"
                f"\t{round(rng.uniform(0.1, 60), 4)}\t{rng.randint(1, 900)}"
                f"\t{round(rng.uniform(0.1, 500), 4)}\t{rng.randint(0, 400)}"
                f"\t{round(rng.uniform(0.5, 800.0), 4)}")
    return lines


def _sample_frames(rng: random.Random, sample: str, species: list[dict],
                   lookup: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {"checkm": [], "gtdb": [], "drep": [],
                                  "kofam": [], "read_counts": [],
                                  "read_mapping": []}
    for binner in BINNERS:
        for n in range(1, 4):
            b = f"{sample}_{binner}_{n}"
            out["checkm"].append({"bin": b,
                                  "completeness": round(rng.uniform(20, 99), 2),
                                  "contamination": round(rng.uniform(0, 25), 2)})
            out["gtdb"].append({"bin": b, "classification":
                                f"d__Bacteria;p__Bac_phy{n % 2};c__;o__;f__;"
                                f"g__Bac_phy{n % 2}_gen0;s__"})
            out["drep"].append({"sample": sample, "bin": b,
                                "secondary_cluster": f"{n}_{rng.randint(0, 1)}",
                                "drep_score": round(rng.uniform(0, 1), 4),
                                "is_cluster_rep": rng.random() < 0.4})
    for i in range(KOFAM_GENES_PER_SAMPLE):
        gene = f"{sample}_{i + 1}_1"
        n_hits = 1 if i % 3 == 0 else rng.randint(2, 4)
        for h in range(n_hits):
            thr = round(rng.uniform(50, 400), 2)
            if i % 3 == 0:
                score = round(thr * rng.uniform(0.55, 0.95), 2)
            elif h == 0:
                score = round(thr * rng.uniform(1.05, 1.8), 2)
            else:
                score = round(thr * rng.uniform(0.51, 0.99), 2)
            out["kofam"].append({
                "gene": gene, "ko": f"K{10000 + rng.randint(0, 999):05d}",
                "thrshld": thr, "score": score,
                "e_value": rng.choice([1e-30, 1e-12, 1e-7, 1e-6, 5e-6]),
                "sig": "*" if score >= thr else ""})
    fwd = rng.randint(800_000, 1_200_000)
    rev = fwd + rng.randint(-5, 5)
    for i, st in enumerate(READ_STATES):
        if i:
            keep = rng.uniform(0.82, 0.99)
            fwd, rev = int(fwd * keep), int(rev * keep)
        out["read_counts"].append({"sample": sample, "read_state": st,
                                   "state_order": i, "fwd_read_count": fwd,
                                   "rev_read_count": rev})
    for r in rng.sample(lookup, MAPPED_PER_SAMPLE):
        out["read_mapping"].append({
            "sample": sample, "target": r["uniref100"],
            "num_seqs_aligned": rng.randint(1, 40000),
            "average_seq_identity": round(rng.uniform(0.5, 1.0), 4),
            "taxonomy": rng.choice(species)["tax_id"]})
    return out


def _write(path: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(data)
    return len(data)


def generate(out_dir: str, n_samples: int, n_initial: int, seed: int) -> dict:
    """Write the trees under ``out_dir`` and return a JSON-able manifest:
    per tree (keyed by its sample count) its globs, samples and input bytes,
    plus every frame's rows tagged by sample and the per-sample expected
    base-table rows."""
    rng = random.Random(seed)
    taxonomy = _taxonomy(rng)
    species = [t for t in taxonomy if t["rank"] == "S"]
    lookup = [{"id": i, "uniref100": f"UniRef100_Q{i:05d}",
               "extra": rng.randint(0, 9)} for i in range(1, UNIREF_IDS + 1)]
    index = [{"id": r["id"], "offset": r["id"] * 1000,
              "length": rng.randint(90, 3000) + 2} for r in lookup]
    samples = sample_names(n_samples)
    per_sample, expected, files = {}, {}, {}
    for s in samples:
        frames = _sample_frames(rng, s, species, lookup)
        gtdb, n_species = _bracken_lines(rng, taxonomy, "gtdb")
        refseq, _ = _bracken_lines(rng, taxonomy, "refseq")
        rpkm = _rpkm_lines(rng, s)
        files[s] = {f"{s}/bracken_gtdb.tsv": gtdb,
                    f"{s}/bracken_refseq.tsv": refseq,
                    f"{s}_genes.rpkm": rpkm}
        per_sample[s] = frames
        # refseq species of Bacteria/Archaea are dropped as GTDB duplicates
        expected[s] = {"bracken_species": n_species,
                       "gene_abundance": len(rpkm) - 5,
                       "read_count": 2 * len(READ_STATES),
                       "tpm2": len(frames["read_mapping"]),
                       "bin_summary": len(frames["checkm"])}
    trees = {}
    for n in range(n_initial, n_samples + 1):
        tree, members = str(n), samples[:n]
        root = os.path.join(out_dir, f"n{n}")
        nbytes = 0
        for s in members:
            for rel, lines in files[s].items():
                sub = "bracken" if "bracken" in rel else "rpkm"
                nbytes += _write(os.path.join(root, sub, rel), lines)
        frame_bytes = len(json.dumps([per_sample[s] for s in members]))
        trees[tree] = {
            "bracken_glob": os.path.join(root, "bracken", "*", "bracken_*.tsv"),
            "rpkm_glob": os.path.join(root, "rpkm", "*_genes.rpkm"),
            "samples": members, "input_bytes": nbytes + frame_bytes}
    return {"taxonomy": taxonomy, "uniref_lookup": lookup,
            "uniref_index": index, "per_sample": per_sample,
            "expected": expected, "trees": trees}


def expected_rows(manifest: dict, samples: list[str]) -> dict[str, int]:
    """Base-table row counts once ``samples`` are loaded."""
    out = {"tax_info": len(manifest["taxonomy"])}
    for s in samples:
        for table, n in manifest["expected"][s].items():
            out[table] = out.get(table, 0) + n
    return out
