"""Plans: long-window pre-aggregation (:mod:`.longwindow`)."""
