"""cinescrapers_spark — a PySpark-native crawl + analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference scraper suite (Joeboy/cinescrapers), re-expressed Spark-first:

* DataFrame/SQL logical plans, Catalyst/Tungsten physical execution.
* A web-scale URL frontier (seen set of Bloom pre-filters over exact
  sorted-hash arrays, politeness scheduler, priority windows) generalizing the reference's staleness-driven refresh
  loop (``/root/reference/src/cinescrapers/__main__.py:497-548``).
* Vectorized (Arrow-batched) pandas UDFs for everything that genuinely
  needs Python — never per-row Python.
"""

__version__ = "0.1.0"
