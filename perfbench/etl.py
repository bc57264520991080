"""The ``etl_reference`` workload: the paper's two CI jobs on a seeded
Omeka-style corpus (``corpus.py``), called through the package's public
functions.

One op is export then transform:

- export: ``fetch_prefix_bindings`` on the api-context body,
  ``pipeline.run_export`` over the in-memory page stub, then
  ``turtle.write_turtle``, the export artifact;
- transform: ``turtle.read_turtle`` of that artifact,
  ``pipeline.run_transform`` with the env-configured mapping and filter
  list and the stub enrichment fetcher, then
  ``write_turtle(auto_compact=True)``.
"""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F
from muurschilderingendatabase_etl_spark.rdf import cleanup, config, pipeline, source, transform, turtle

from perfbench import corpus as corpus_mod
from perfbench.stubs import EnrichFetcher, PageFetcher
from perfbench.trace import Tracer


def read_single_artifact(path: str) -> bytes:
    """The bytes of a text-file sink's output directory, parts in order."""
    out = b""
    for part in sorted(f for f in os.listdir(path) if f.startswith("part-")):
        with open(os.path.join(path, part), "rb") as fh:
            out += fh.read()
    return out


class EtlWorkload:
    name = "etl_reference"

    def __init__(self, spark, seed: int, workdir: str,
                 pages: int = corpus_mod.PAGES) -> None:
        self.spark = spark
        self.workdir = workdir
        self.corpus = corpus_mod.generate(seed, pages=pages)
        self.mapping = config.get_mapping_from_env(corpus_mod.TRANSFORM_ENV)
        self.filterlist = config.get_filter_from_env(corpus_mod.TRANSFORM_ENV)
        self.outputs: list[tuple[bytes, bytes]] = []  # (export, final) per op

    def ops(self) -> list[str]:
        # the first (cold) op, as the weekly CI job runs it, and one warm op
        return ["etl-0", "etl-1"]

    def warm_up(self) -> None:
        """None: the CI job runs once per JVM, so the first timed op runs
        cold, as it does for users."""

    def run_op(self, op: str, tracer: Tracer) -> float:
        c = self.corpus
        out = os.path.join(self.workdir, op)
        export_dir, final_dir = out + "-export", out + "-final"
        fetch_page = PageFetcher(c.pages)
        fetch_key = EnrichFetcher(c.enrichments, c.failing_keys)
        t0 = time.perf_counter()
        with tracer.span("rdf.pipeline.export", op), tracer.jobs("rdf.pipeline.export_jobs"):
            bindings = source.fetch_prefix_bindings(c.context_json)
            with tracer.span("rdf.pipeline.run_export", op):
                cleaned = pipeline.run_export(self.spark, fetch_page)
            with tracer.span("rdf.turtle.write_turtle", op):
                turtle.write_turtle(cleaned, export_dir, bindings)
        with tracer.span("rdf.pipeline.transform", op), tracer.jobs("rdf.pipeline.transform_jobs"):
            with tracer.span("rdf.turtle.read_turtle", op):
                parsed = turtle.read_turtle(self.spark, export_dir)
            with tracer.span("rdf.pipeline.run_transform", op):
                result = pipeline.run_transform(
                    turtle.triples_only(parsed), self.mapping, self.filterlist, fetch_key
                )
            with tracer.span("rdf.turtle.write_turtle", op):
                turtle.write_turtle(result, final_dir, bindings, auto_compact=True)
        elapsed = time.perf_counter() - t0
        # The artifacts are read back after the op's clock stops.
        self.outputs.append((read_single_artifact(export_dir), read_single_artifact(final_dir)))
        shutil.rmtree(export_dir)
        shutil.rmtree(final_dir)
        return elapsed

    # ------------------------------------------------------------------
    # Output checks (outside the timed section)

    def check(self, tracer: Tracer) -> tuple[int, list[str]]:
        """Returns (failed ops, failure messages). Every op must have
        written the same bytes as the first; the first op's artifacts must
        read back to the model's triples; and the counts must match the
        model's. A traced run checks every layer count; an untraced run
        the ones it can take from the artifacts and one parse action."""
        if not self.outputs:
            return 0, []
        want = corpus_mod.model(self.corpus)
        first = self.outputs[0]
        failures = [f"op {i} wrote different bytes than op 0"
                    for i, out in enumerate(self.outputs) if out != first]
        msgs: list[str] = []
        try:
            export = corpus_mod.read_artifact(first[0].decode())
            final = corpus_mod.read_artifact(first[1].decode())
        except (ValueError, KeyError) as exc:
            export, final = [], []
            msgs.append(f"artifact does not read back: {exc!r}")
        else:
            msgs += corpus_mod.compare("export artifact", export, want.export_rows)
            msgs += corpus_mod.compare("final artifact", final, want.final_rows)
        if tracer.enabled:
            counts = self.layer_counts(tracer)
        else:
            counts = self.parse_counts()
            counts["triples_dropped"] = counts["triples_parsed"] - len(export)
            counts["same_as_added"] = sum(t[2] == corpus_mod.SAME_AS for t in final)
        for key, value in counts.items():
            if key in want.counts and value != want.counts[key]:
                msgs.append(f"{key}: got {value}, model says {want.counts[key]}")
        if msgs:
            return len(self.outputs), failures + msgs
        return len(failures), failures

    def parse_counts(self) -> dict[str, int]:
        fetch_page = PageFetcher(self.corpus.pages)
        parsed = source.scan_paginated(self.spark, fetch_page)
        row = parsed.agg(
            F.count("_corrupt").alias("bad"), F.count("s").alias("ok")
        ).first()
        return {"pages": fetch_page.served, "bytes_in": fetch_page.bytes_in,
                "docs_quarantined": row.bad, "triples_parsed": row.ok}

    def layer_counts(self, tracer: Tracer) -> dict[str, int]:
        """Layer isolation: each rdf.* step runs over its input layer's
        cached output, so the step's own action is the only one its span
        times. Lazy plans would otherwise fuse parse, cleanup and write
        into one action."""
        spark = self.spark
        c = self.corpus
        fetch_page = PageFetcher(c.pages)
        calls = spark.sparkContext.accumulator(0)
        fetch_key = EnrichFetcher(c.enrichments, c.failing_keys, calls)
        parallelism = spark.sparkContext.defaultParallelism
        counts: dict[str, int] = {}
        cached = []

        def layer(df):
            # A cached plan keeps its shuffle's full partition count, so
            # narrow it first.
            df = df.coalesce(parallelism).cache()
            cached.append(df)
            return df

        try:
            with tracer.span("rdf.source.scan", "layers"):
                parsed = layer(source.scan_paginated(spark, fetch_page))
            counts["pages"] = fetch_page.served
            counts["bytes_in"] = fetch_page.bytes_in
            with tracer.span("rdf.turtle.parse", "layers"):
                parsed.count()
            counts["docs_quarantined"] = turtle.corrupt_records(parsed).count()
            triples = layer(turtle.triples_only(parsed))
            counts["triples_parsed"] = triples.count()
            with tracer.span("rdf.cleanup.clean", "layers"):
                cleaned = layer(cleanup.clean(triples))
                counts["triples_dropped"] = counts["triples_parsed"] - cleaned.count()
            keys = layer(transform.monument_keys(cleaned))
            counts["keys_distinct"] = keys.count()
            with tracer.span("rdf.transform.enrich", "layers"):
                fetched = layer(transform.fetch_enrichments(keys, fetch_key))
                counts["triples_enriched"] = fetched.count()
            counts["fetch_calls"] = calls.value
            union = layer(transform.graph_union(cleaned, fetched))
            n_union = union.count()
            with_same_as = layer(transform.add_same_as(union))
            counts["same_as_added"] = with_same_as.count() - n_union
            mapped = layer(transform.apply_mapping(with_same_as, self.mapping))
            counts["triples_filtered"] = transform.count_filtered(mapped, self.filterlist)
            final = layer(transform.apply_filter(mapped, self.filterlist))
            final.count()
            with tracer.span("rdf.turtle.auto_prefixes", "layers"):
                bindings = turtle.auto_prefixes(
                    final, source.fetch_prefix_bindings(c.context_json)
                )
            out = os.path.join(self.workdir, "layers-final")
            with tracer.span("rdf.turtle.write", "layers"):
                turtle.write_turtle(final, out, bindings)
            counts["bytes_out"] = len(read_single_artifact(out))
            shutil.rmtree(out)
        finally:
            for df in cached:
                df.unpersist()
        tracer.layer_counts.update(counts)
        return counts
