SELECT count(*) AS count,
       coalesce(vendorid, -1) AS vendorid,
       day, month, year,
       pulocationid, dolocationid, payment_type,
       sum(passenger_count) AS passenger_count,
       sum(trip_distance) AS total_trip_distance,
       sum(fare_amount) AS total_fare_amount,
       sum(extra) AS total_extra,
       sum(tip_amount) AS total_tip_amount,
       sum(tolls_amount) AS total_tolls_amount,
       sum(total_amount) AS total_amount
FROM conformed.yellow_taxi_trip_record
WHERE year = '${year}' AND month = '${month}' AND day = '${day}'
GROUP BY vendorid, day, month, year, pulocationid, dolocationid, payment_type
