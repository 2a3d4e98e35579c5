"""Full-pipeline driver — the engine's create_database.sh.

Reference: /root/reference/create_database.sh:16-53 runs 13 sequential
single-threaded processes over a shared SQLite file, with no error
propagation. Here one SparkSession builds all nine tables; loads that the
reference serialized only for table-creation ordering run as independent
Spark jobs (submitted from threads — the scheduler interleaves their
stages), and any validation failure fails the whole build (fail-fast,
SURVEY §3.1 decision).

Write layout (the index-emulation story, SURVEY §4): genomic tables are
partitioned by taxon and sorted within files by (chr, start) so partition
pruning + parquet row-group min/max stats serve the reference's 15 B-tree
indexes' query workload.
"""

from __future__ import annotations

import concurrent.futures as cf
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..sources import io
from .. import schemas
from . import loaders


@dataclass
class SpeciesInputs:
    taxon_id: int
    genes_gff3: str
    cytoband_gff3: str | None = None
    feature_gff3: str | None = None


@dataclass
class PipelineInputs:
    species: list[SpeciesInputs]
    synteny_tsvs: list[str]
    homolog_tsvs: list[str]
    vcf_paths: list[str]
    obo_paths: list[str]
    gaf_loads: list[tuple[str, int]]


def build_database(spark: SparkSession, inputs: PipelineInputs, out_dir: str) -> dict[str, int]:
    """Build all nine tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    results: dict[str, int] = {}

    def genes_exons() -> list[tuple[str, int]]:
        gene_parts, exon_parts, warn = [], [], []
        for sp in inputs.species:
            g, e = loaders.load_genes_exons(spark, sp.genes_gff3, sp.taxon_id)
            gene_parts.append(g.df)
            exon_parts.append(e.df)
        from ..operators import shape

        gene = shape.accumulate(gene_parts)
        exon = shape.accumulate(exon_parts)
        io.assert_no_duplicates(gene, schemas.GENE_PK, "gene")
        io.assert_no_duplicates(exon, schemas.EXON_PK, "exon")
        n_gene = io.write_table(
            gene,
            f"{out_dir}/gene",
            partition_by=["gene_taxonid"],
            sort_within_by=["gene_chr", "gene_start_pos"],
        )
        n_exon = io.write_table(
            exon,
            f"{out_dir}/exon",
            partition_by=["taxonid"],
            sort_within_by=["exon_chr", "exon_start_pos"],
        )
        return [("gene", n_gene), ("exon", n_exon)]

    def synteny() -> list[tuple[str, int]]:
        from ..operators import shape

        parts = [loaders.load_synteny_blocks(spark, p).df for p in inputs.synteny_tsvs]
        if not parts:
            return []
        df = io.upsert_dedup(shape.accumulate(parts), schemas.SYNTENIC_BLOCK_PK)
        n = io.write_table(
            df,
            f"{out_dir}/syntenic_block",
            partition_by=["ref_taxonid"],
            sort_within_by=["ref_chr", "ref_start_pos"],
        )
        return [("syntenic_block", n)]

    def cytobands() -> list[tuple[str, int]]:
        from ..operators import shape

        parts = [
            loaders.load_cytobands(spark, sp.cytoband_gff3, sp.taxon_id).df
            for sp in inputs.species
            if sp.cytoband_gff3
        ]
        if not parts:
            return []
        df = shape.accumulate(parts)
        n = io.write_table(
            df,
            f"{out_dir}/cytogenetic_band",
            partition_by=["taxon_id"],
            sort_within_by=["chr", "start"],
        )
        return [("cytogenetic_band", n)]

    def features() -> list[tuple[str, int]]:
        from ..operators import shape

        parts = [
            loaders.load_features(spark, sp.feature_gff3, sp.taxon_id).df
            for sp in inputs.species
            if sp.feature_gff3
        ]
        if not parts:
            return []
        df = shape.accumulate(parts)
        n = io.write_table(
            df,
            f"{out_dir}/feature",
            partition_by=["taxon_id"],
            sort_within_by=["seq_id", "start"],
        )
        return [("feature", n)]

    def variants() -> list[tuple[str, int]]:
        from ..operators import shape

        parts = [loaders.load_variants(spark, p).df for p in inputs.vcf_paths]
        if not parts:
            return []
        df = shape.accumulate(parts)
        n = io.write_table(
            df,
            f"{out_dir}/snp_variant",
            partition_by=["taxon_id"],
            sort_within_by=["chr", "pos"],
        )
        return [("snp_variant", n)]

    def homologs() -> list[tuple[str, int]]:
        from ..operators import shape

        parts = [loaders.load_homologs(spark, p).df for p in inputs.homolog_tsvs]
        if not parts:
            return []
        df = io.upsert_dedup(shape.accumulate(parts), schemas.HOMOLOG_PK)
        n = io.write_table(
            df,
            f"{out_dir}/homolog",
            partition_by=["ref_taxon_id"],
            sort_within_by=["ref_seq_id", "ref_start"],
        )
        return [("homolog", n)]

    def ontology() -> list[tuple[str, int]]:
        if not inputs.obo_paths:
            return []
        terms, pairs, gmap = loaders.build_ontology(
            spark, inputs.obo_paths, inputs.gaf_loads
        )
        n_terms = io.write_table(terms.df, f"{out_dir}/on_terms")
        n_pairs = io.write_table(
            pairs.df, f"{out_dir}/on_pairs", sort_within_by=["parent", "child"]
        )
        n_gmap = io.write_table(gmap.df, f"{out_dir}/gene_ontology_map")
        return [
            ("on_terms", n_terms),
            ("on_pairs", n_pairs),
            ("gene_ontology_map", n_gmap),
        ]

    tasks = [genes_exons, synteny, cytobands, features, variants, homologs, ontology]
    # Independent table families run concurrently: Spark's FAIR-ish FIFO
    # scheduler interleaves their stages across the executor pool. Any
    # exception cancels the build (fail-fast — unlike the reference shell,
    # which ignores loader failures).
    with cf.ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(t) for t in tasks]
        for fut in cf.as_completed(futures):
            for name, n in fut.result():
                results[name] = n
    return results


# ---------------------------------------------------------------------------
# CLI — the reference's per-loader argv programs (create_database.sh:16-53)
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> dict[str, int]:
    """Per-loader CLI mirroring the reference programs' argv shape.

    Reference: ``python src/import_genes_exons.py <database> <filepath>
    <taxonid> [-c]`` etc., orchestrated by create_database.sh. Here
    ``<database>`` is a parquet directory; ``-c/--create`` = overwrite
    (the reference's DROP TABLE + CREATE, S9), default = append (S10).
    Returns {table: rows written} (also printed, one line per table).
    """
    import argparse

    p = argparse.ArgumentParser(prog="python -m syntenybrowserv2_etl_spark.plans.pipeline")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name: str, with_taxon: bool) -> None:
        sp = sub.add_parser(name)
        sp.add_argument("database", help="output parquet directory")
        sp.add_argument("filepath", help="source data file")
        if with_taxon:
            sp.add_argument("taxonid", type=int)
        sp.add_argument(
            "-c", "--create", action="store_true",
            help="(re)create the table: overwrite instead of append",
        )

    add("genes-exons", True)       # import_genes_exons.py
    add("cytobands", True)         # import_cytogenetic_loc.py
    add("features", True)          # import_features.py
    add("variants", True)          # import_variants.py
    add("synteny-blocks", False)   # import_synteny_blocks.py
    add("homologs", False)         # import_homologs.py
    onto = sub.add_parser("ontology")  # import_ontology.py
    onto.add_argument("database")
    onto.add_argument("--obo", action="append", default=[], metavar="OBO_PATH")
    onto.add_argument(
        "--gaf", action="append", default=[], metavar="GAF_PATH:TAXON"
    )
    onto.add_argument("-c", "--create", action="store_true")
    args = p.parse_args(argv)

    from ..session import get_spark

    spark = get_spark("pipeline-cli")
    mode = "overwrite" if args.create else "append"
    out = args.database
    written: dict[str, int] = {}

    def emit(name: str, df, partition_by=None, sort_within_by=None) -> None:
        written[name] = io.write_table(
            df, f"{out}/{name}", mode=mode,
            partition_by=partition_by, sort_within_by=sort_within_by,
        )

    if args.cmd == "genes-exons":
        g, e = loaders.load_genes_exons(spark, args.filepath, args.taxonid)
        io.assert_no_duplicates(g.df, schemas.GENE_PK, "gene")
        io.assert_no_duplicates(e.df, schemas.EXON_PK, "exon")
        emit("gene", g.df, ["gene_taxonid"], ["gene_chr", "gene_start_pos"])
        emit("exon", e.df, ["taxonid"], ["exon_chr", "exon_start_pos"])
    elif args.cmd == "cytobands":
        res = loaders.load_cytobands(spark, args.filepath, args.taxonid)
        emit("cytogenetic_band", res.df, ["taxon_id"], ["chr", "start"])
    elif args.cmd == "features":
        res = loaders.load_features(spark, args.filepath, args.taxonid)
        emit("feature", res.df, ["taxon_id"], ["seq_id", "start"])
    elif args.cmd == "variants":
        res = loaders.load_variants(spark, args.filepath, args.taxonid)
        emit("snp_variant", res.df, ["taxon_id"], ["chr", "pos"])
    elif args.cmd == "synteny-blocks":
        res = loaders.load_synteny_blocks(spark, args.filepath)
        emit("syntenic_block", res.df, ["ref_taxonid"], ["ref_chr", "ref_start_pos"])
    elif args.cmd == "homologs":
        res = loaders.load_homologs(spark, args.filepath)
        emit("homolog", res.df, ["ref_taxon_id"], ["ref_seq_id", "ref_start"])
    elif args.cmd == "ontology":
        gaf_loads = []
        for spec in args.gaf:
            path, taxon = spec.rsplit(":", 1)
            gaf_loads.append((path, int(taxon)))
        terms, pairs, gmap = loaders.build_ontology(spark, args.obo, gaf_loads)
        emit("on_terms", terms.df)
        emit("on_pairs", pairs.df, sort_within_by=["parent", "child"])
        emit("gene_ontology_map", gmap.df)
    for name, n in written.items():
        print(f"{name}: {n} rows written ({mode})")
    return written


if __name__ == "__main__":
    main()
