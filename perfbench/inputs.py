"""Benchmark inputs: the seeded build input set and the query-workload data.

The build inputs are a share (``SCALE``) of the full-size
``tools/build_bench.py`` set, written by that tool's own ``gen_*`` functions
from the benchmark's seed into the benchmark's scratch directory. The homolog TSV is produced inline by the
tool's ``main()``, not by a ``gen_*`` function, so ``gen_homologs`` below
writes the same format. The tool's ``main()`` is never called: it fixes its
own seed and rewrites a directory the test suite also uses.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# Read-only copies of the generated testdata tables the query mixes read,
# one directory per scale factor.
DATA = os.path.join(HERE, "data")


def sf_dir(sf: str) -> str:
    return os.path.join(DATA, sf)


# Share of the full-size tools/build_bench.py input set that a build run
# generates; every count below is the full size times SCALE.
SCALE = 0.1


def _n(full: int) -> int:
    return max(int(full * SCALE), 1)


SPECIES = [(9606, _n(25_000)), (10090, _n(25_000)), (10116, _n(22_000))]
SYNTENY = [(9606, 10116), (10090, 9606), (10116, 10090)]
ONTOLOGIES = [("GO", 1, _n(40_000)), ("MP", 1, _n(15_000)), ("DO", 1, _n(12_000))]
TAXA = [t for t, _ in SPECIES]


def _build_bench():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import build_bench
    finally:
        sys.path.pop(0)
    return build_bench


def gen_homologs(path: str, n: int, rng: random.Random, write) -> int:
    """Headered 13-column homolog TSV, in ``tools/build_bench.py``'s format."""
    chrs = [str(i) for i in range(1, 20)] + ["X", "Y"]
    lines = ["## Type\tTaxonID1\tID1\tSymbol1\tSeqID1\tStart1\tEnd1"
             "\tTaxonID2\tID2\tSymbol2\tSeqID2\tStart2\tEnd2"]
    for i in range(n):
        t1, t2 = rng.sample(TAXA, 2)
        s1, s2 = rng.randrange(1, 140_000_000), rng.randrange(1, 140_000_000)
        kind = "ORTHOLOGUE" if rng.random() < 0.9 else "PARALOGUE"
        lines.append(
            f"{kind}\t{t1}\tH{i}\tHSym{i}\tchr{rng.choice(chrs)}\t{s1}"
            f"\t{s1 + rng.randrange(100, 9000)}\t{t2}\tM{i}\tMSym{i}"
            f"\tchr{rng.choice(chrs)}\t{s2}\t{s2 + rng.randrange(100, 9000)}"
        )
    return write(path, lines)


def generate_build_inputs(seed: int, d: str) -> tuple[dict, int, str]:
    """Write the build input set for ``seed`` into ``d``.

    Returns the ``PipelineInputs`` fields as plain data, the number of input
    lines written, and a key naming this input set (its seed and file sizes).
    """
    bb = _build_bench()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = random.Random(seed)
    n = 0
    for taxon, genes in SPECIES:
        n += bb.gen_genes_gff3(f"{d}/genes_{taxon}.gff3", taxon, genes, rng)
        n += bb.gen_cytobands_gff3(f"{d}/cyto_{taxon}.gff3", 900, rng)
    for rt, ct in SYNTENY:
        n += bb.gen_synteny_tsv(f"{d}/synteny_{rt}_{ct}.tsv", rt, ct, _n(10_000), rng)
    n += bb.gen_features_gff3(f"{d}/qtl_10090.gff3", 10090, _n(25_000), rng)
    n += bb.gen_features_gff3(f"{d}/qtl_10116.gff3.gz", 10116, _n(25_000), rng)
    n += bb.gen_vcf(f"{d}/gwas.vcf", _n(250_000), rng)
    for prefix, off, cnt in ONTOLOGIES:
        n += bb.gen_obo(f"{d}/{prefix.lower()}.obo", prefix, cnt, off, rng)
    for taxon, genes in SPECIES:
        n += bb.gen_gaf(f"{d}/gaf_{taxon}.gaf", taxon, _n(150_000), genes, ONTOLOGIES, rng)
    n += gen_homologs(f"{d}/homologs.tsv", _n(50_000), rng, bb._write)
    features = {10090: f"{d}/qtl_10090.gff3", 10116: f"{d}/qtl_10116.gff3.gz"}
    fields = {
        "species": [
            {"taxon_id": t, "genes_gff3": f"{d}/genes_{t}.gff3",
             "cytoband_gff3": f"{d}/cyto_{t}.gff3", "feature_gff3": features.get(t)}
            for t in TAXA
        ],
        "synteny_tsvs": [f"{d}/synteny_{rt}_{ct}.tsv" for rt, ct in SYNTENY],
        "homolog_tsvs": [f"{d}/homologs.tsv"],
        "vcf_paths": [f"{d}/gwas.vcf"],
        "obo_paths": [f"{d}/{p.lower()}.obo" for p, _, _ in ONTOLOGIES],
        "gaf_loads": [[f"{d}/gaf_{t}.gaf", t] for t in TAXA],
    }
    sizes = sorted((f, os.path.getsize(os.path.join(d, f))) for f in os.listdir(d))
    key = f"seed{seed}-" + hashlib.sha256(repr(sizes).encode()).hexdigest()[:12]
    return fields, n, key


def data_fingerprint(sf: str) -> str:
    """sha256 over one scale factor's data files, to tie oracle hashes to them."""
    h = hashlib.sha256()
    d = sf_dir(sf)
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
