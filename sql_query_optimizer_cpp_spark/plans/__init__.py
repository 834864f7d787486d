"""Plans: explain, transform log, cost and join-order advice over Catalyst's
plans."""
