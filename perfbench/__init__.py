"""End-to-end DMARC benchmark: see perfbench/README.md."""
