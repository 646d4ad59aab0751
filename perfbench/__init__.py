"""Crawl benchmark for langscrape_spark; see README.md."""
