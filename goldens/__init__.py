"""Oracle-only data for the ``__spark_entry__.py`` correctness gate:
pinned twin goldens and codebook artifacts, each rewritten by its
``scripts/gen_*.py`` generator.  Only the driver reads them; the engine
package (``phenoqc_spark/``, the ``--py-files`` zip) never imports this
package, and a codebook reaches executors only as data passed to an
operator."""
