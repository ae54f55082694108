"""The driver-contract queries: one module per domain, each builder
followed by its DuckDB oracle SQL, and ``registry`` declaring which
queries exist, in what order, with which oracle and bench lane."""
