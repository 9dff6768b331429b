"""End-to-end benchmark of the lambda pipeline; see README.md."""
