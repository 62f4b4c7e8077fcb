"""seizury_hrv_featuresextraction_spark — a brand-new PySpark-native
feature-engineering engine with the query/data-processing capabilities of
pietrosaveri/seizury-HRV-featuresExtraction (reference at /root/reference,
read-only), re-expressed Spark-first.

Layout
------
- ``functions/``  : numeric kernels (pure NumPy, Arrow-vectorized) and
                    native Column builders (text, vectors).
- ``operators/``  : reusable DataFrame operators (as-of join, windowing,
                    sessionization, labeling, filters, skew handling,
                    dedup, stats).
- ``plans/``      : end-to-end pipelines (the flagship HRV feature plan,
                    sequence building).
- ``sources/``    : table registry + partitioned sinks with lineage
                    manifests.
- ``streaming/``  : stateful streaming-shaped operators (trailing buffer,
                    debounce) with batch equivalents.
- ``oracle.py``   : straight-line NumPy reference implementation (the
                    np.allclose gate) — intentionally loop-based and
                    independent from the vectorized engine kernels.
- ``datagen.py``  : deterministic synthetic inputs (seed 42), matching
                    FIXTURES.md F1/F2.
"""

__version__ = "0.1.0"
