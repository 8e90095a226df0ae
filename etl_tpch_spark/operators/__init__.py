"""Reusable relational operators (SURVEY.md §2.3, §2.5-2.7):
joins (incl. as-of and range), bloom-filter semi-joins, PageRank and
salted skew handling."""
