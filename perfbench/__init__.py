"""Benchmark for the lucene_solr_1_spark engine; see README.md."""
